"""Document-quality classifier: a hashed-ngram linear scorer — the
fastText-style gate (Joulin et al. 2017, public) that GPT-3/LLaMA-class
pipelines run between the heuristic rules and data selection ("does this
crawl page look like the reference corpus?"). The model is multinomial
Naive Bayes over hashing-trick features: every word unigram (and word
bigram) hashes into one of ``n_bins`` buckets, training reduces to ONE
per-bucket count aggregate over a labeled reference slice, and scoring is
one per-document sum of bucket weights — closed-form, fully distributed,
and replayable operation-for-operation in ANSI SQL (the oracle property a
binary fastText model could never give).

Model. With per-bucket training counts ``cp/cn`` (positive/negative token
occurrences), totals ``TP/TN``, and Laplace smoothing over the bin space:

    w[b]  = ln((cp_b + 1) / (TP + n_bins)) - ln((cn_b + 1) / (TN + n_bins))
    bias  = ln(n_pos_docs / n_neg_docs)
    logit = bias + sum over doc features of w[bucket(feat)]
    prob  = sigmoid(logit)

Buckets unseen in training contribute the smoothing-floor weight
``default_w`` (both counts zero) — never silently zero (a SQL replay
applies it via COALESCE after a left join on the weight table).

Scale shape: training is one Arrow-batched pass over the labeled SLICE
(sample-bounded) emitting per-batch partial count maps; the weight table
is at most ``n_bins`` rows, built on the driver. Scoring is one
Arrow-batched pass per document against that weight map plus one
narrow per-doc merge — no feature explosion, no weight join.

The hash is the package's md5-60-bit convention (``ops/util.md5_bits``
with 15 hex chars — winnowing/sampling precedent), so an external engine
reproduces bucket membership bit-for-bit.

Reference parity: the reference ships no quality classifier; this is one
of the LLM-pipeline extensions (SURVEY §2.13) built from the published
method only.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graflo_spark.ops.util import ensure_min_parallelism, md5_bits, py_md5_bits

_US = chr(31)  # unit separator: the package's n-gram joiner convention

# Java regex \s is the ASCII class [ \t\n\x0B\f\r] (no Unicode spaces);
# F.trim strips 0x20 only. The pair below reproduces
# split(trim(text), '\s+') exactly — including the empty first/last token
# a leading/trailing non-space whitespace char produces, and [''] for
# empty/space-only text (probe-verified against Spark 4.1, and pinned
# against the expression chain by
# test_arrow_portable_path_matches_expression_chain).
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def _py_feats(text: str, bigrams: bool) -> list:
    """Feature strings of one document: tokenize like
    ``split(trim(text), '\\s+')``, then unigrams + chr(31)-joined
    bigrams."""
    toks = _JAVA_WS.split(text.strip(" "))
    feats = list(toks)
    if bigrams and len(toks) > 1:
        feats += [a + _US + b for a, b in zip(toks, toks[1:])]
    return feats


def _py_bucket(feat: str, n_bins: int) -> int:
    """The md5-60-bit feature bucket (SQL: ``md5_bits(feat, 15) %
    n_bins``)."""
    return py_md5_bits(feat, 15) % n_bins


# feature-string memo cap per task: natural-language features are Zipf-
# distributed, so a memo turns ~20x repeated md5 work into dict hits; the
# cap bounds a pathological all-distinct corpus (strings + values, a few
# tens of MB at worst) — cleared, not LRU, because Zipf heads re-warm in
# one batch
_FEAT_CACHE_MAX = 1 << 20

# local-mode fan-out bound for the quality Python stages: with the memo
# the per-row work is light (~50 us/doc measured at sf0.1), so each extra
# task mostly buys its ~10 ms Python-worker roundtrip, not speedup —
# measured 0.29 s @ 1 task / 0.38 s @ 8 / 0.54 s @ 32 for identical work.
# 8 keeps headroom for bigger local corpora while bounding the tax; on a
# real cluster ensure_min_parallelism is a no-op (input already parallel).
_QCLF_MIN_PARTS = 8


@dataclass
class HashedNgramNb:
    """Trained scorer state. ``weights``: (bucket, wt) — at most ``n_bins``
    rows, a driver-built local relation; ``wmap``: the same weights as the
    driver dict scoring reads; ``default_w``: smoothing-floor weight for
    buckets unseen in training; ``bias``: document-class log prior."""

    weights: DataFrame
    wmap: dict
    default_w: float
    bias: float
    n_bins: int
    bigrams: bool


def train_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label: F.Column,
    n_bins: int = 1024,
    bigrams: bool = True,
) -> HashedNgramNb:
    """Fit the NB log-odds weights on ``df`` (the labeled reference slice
    — e.g. curated-corpus rows vs raw-crawl rows, the fastText quality
    setup; here any boolean ``label`` Column). Both classes must be
    non-empty.

    One action total: the Arrow pass (:func:`_train_counts_arrow`) folds
    the doc-count prior into the same per-batch partial maps (bucket -1,
    never a real md5 bucket), the <= n_bins+1 count rows collect, and the
    weight table is BUILT driver-side as a local relation — so scoring
    never re-materializes the training lineage, and the table needs no
    cache."""
    labeled = df.filter(F.col(text_col).isNotNull()).withColumn(
        "__pos", label.cast("boolean"))
    count_rows = _train_counts_arrow(
        labeled, text_col, n_bins, bigrams).collect()
    np_ = nn_ = tp_i = tn_i = 0
    buckets = []
    for r in count_rows:
        if r["bucket"] < 0:
            np_, nn_ = r["cp"], r["cn"]
        else:
            buckets.append((r["bucket"], r["cp"], r["cn"]))
            tp_i += r["cp"]
            tn_i += r["cn"]
    if not np_ or not nn_:
        raise ValueError(
            "train_quality_classifier: both classes must be non-empty, "
            f"got pos={np_} neg={nn_}")
    tp, tn = float(tp_i), float(tn_i)
    wmap = {
        b: math.log((cp + 1.0) / (tp + n_bins))
        - math.log((cn + 1.0) / (tn + n_bins))
        for b, cp, cn in buckets
    }
    weights = labeled.sparkSession.createDataFrame(
        list(wmap.items()), schema="bucket long, wt double")
    default_w = (math.log(1.0 / (tp + n_bins))
                 - math.log(1.0 / (tn + n_bins)))
    return HashedNgramNb(
        weights=weights, wmap=wmap, default_w=default_w,
        bias=math.log(np_ / nn_), n_bins=n_bins, bigrams=bigrams)


def _train_counts_arrow(
    labeled: DataFrame, text_col: str, n_bins: int, bigrams: bool
) -> DataFrame:
    """Per-bucket (cp, cn) training counts: one ``mapInPandas`` pass emits
    PER-BATCH partial count maps (at most ``n_bins`` rows each), so the
    only shuffle carries a few thousand pre-aggregated rows instead of one
    row per feature occurrence — and the posexplode + per-doc lead-window
    sort an expression formulation needs (a full shuffle of the exploded
    slice, just to form bigrams) never happens. Counts are exact integers,
    bit-identical to the expression chain's groupBy. The class prior's
    labeled-doc counts ride along as one ``bucket = -1`` row per batch (a
    real md5 bucket is never negative), so training needs no second scan
    of the slice.

    NULL labels: the expression chain counts such rows' features in
    NEITHER class but still mints their (0, 0) bucket rows, whose weight
    equals the smoothing floor — dropping the rows entirely (done here)
    changes nothing but which side computes ln(1/(t + n_bins))."""

    def run(batches):
        memo: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            counts: dict = {}
            ndoc = [0, 0]
            for t, pos in zip(pdf["t"], pdf["p"]):
                if pos is None:
                    continue
                idx = 0 if pos else 1
                ndoc[idx] += 1
                if len(memo) > _FEAT_CACHE_MAX:
                    memo.clear()
                for f in _py_feats(t, bigrams):
                    b = memo.get(f)
                    if b is None:
                        memo[f] = b = _py_bucket(f, n_bins)
                    c = counts.get(b)
                    if c is None:
                        counts[b] = c = [0, 0]
                    c[idx] += 1
            counts[-1] = ndoc
            yield pd.DataFrame(
                {
                    "bucket": list(counts.keys()),
                    "cp": [v[0] for v in counts.values()],
                    "cn": [v[1] for v in counts.values()],
                }
            )

    narrowed = labeled.select(
        F.col(text_col).alias("t"), F.col("__pos").alias("p"))
    parts = ensure_min_parallelism(
        narrowed, min_parts=_QCLF_MIN_PARTS
    ).mapInPandas(run, schema="bucket long, cp long, cn long")
    return parts.groupBy("bucket").agg(
        F.sum("cp").alias("cp"), F.sum("cn").alias("cn"))


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: DataFrame,
    raw: DataFrame,
    n_bins: int = 1024,
    bigrams: bool = True,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", NeurIPS — published):
    score every document by ``log w(x) = log p_target(x) - log p_raw(x)``
    under two bag-of-hashed-ngrams models, one fit on a TARGET sample
    (the distribution you want more of — curated text) and one on a RAW
    sample (the crawl). Returns ``(id, n_feats, log_w)``.

    This is exactly the NB log-odds machinery above with a zero class
    prior: fit :func:`train_quality_classifier` on target-as-positive /
    raw-as-negative (ids are namespaced ``t:``/``r:`` so the two samples
    can overlap), then ``log_w = logit - bias``. Same cost shape: one
    sample-bounded training aggregate, one corpus scoring pass + per-doc
    merge. Feed the result to :func:`dsir_select`."""
    tagged = (
        target.filter(F.col(text_col).isNotNull()).select(
            F.concat(F.lit("t:"), F.col(id_col).cast("string")).alias("id"),
            F.col(text_col).alias("text"), F.lit(True).alias("__pos"))
        .unionByName(raw.filter(F.col(text_col).isNotNull()).select(
            F.concat(F.lit("r:"), F.col(id_col).cast("string")).alias("id"),
            F.col(text_col).alias("text"), F.lit(False).alias("__pos")))
    )
    model = train_quality_classifier(
        tagged, "id", "text", F.col("__pos"),
        n_bins=n_bins, bigrams=bigrams)
    return quality_scores(df, id_col, text_col, model).select(
        "id", "n_feats",
        (F.col("logit") - F.lit(model.bias)).alias("log_w"))


def dsir_select(
    scored: DataFrame,
    k: int,
    id_col: str = "id",
    log_w_col: str = "log_w",
    salt: str = "dsir",
) -> DataFrame:
    """Gumbel-top-k importance RESAMPLING (the DSIR selection step):
    keep the ``k`` documents with the largest ``log_w + Gumbel`` key —
    equivalent to sampling k documents without replacement with
    probability proportional to ``exp(log_w)`` (the Gumbel-max trick),
    which preserves diversity where a plain top-k would collapse onto
    near-duplicates of the target sample. The noise is DETERMINISTIC:
    ``g = -ln(-ln(u))`` with ``u`` derived from the 60-bit md5 of
    ``id <0x1f> salt``, so the selection is a pure function of the data
    (layout-invariant and SQL-replayable, the sampling-module convention).
    Returns the selected rows with ``gumbel_key`` attached.

    Scale: the key is one hash + two ``ln`` per row, and the global top-k
    is ``orderBy(...).limit(k)`` — Spark's TakeOrderedAndProject, a
    per-partition heap + driver merge of k rows, never a global sort."""
    h = md5_bits(
        F.concat_ws(chr(31), F.col(id_col).cast("string"), F.lit(salt)), 15)
    # u in (0, 1]: +1 avoids ln(0); the 60-bit ceiling keeps u <= 1.
    # Integer add BEFORE the double cast, so an external engine computing
    # CAST(h + 1 AS DOUBLE) lands on the identical double.
    u = (h + F.lit(1)).cast("double") / F.lit(float((1 << 60) + 1))
    key = F.col(log_w_col) + (-F.log(-F.log(u)))
    return (
        scored.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
    )


def confusion_counts(
    scored: DataFrame,
    label_col: str,
    prob_col: str = "prob",
    threshold: float = 0.5,
) -> DataFrame:
    """One-row ``(tp, fp, fn, tn, skipped)`` confusion frame at
    ``threshold`` — the distributed half of :func:`classifier_report`,
    exposed as a DataFrame so pipelines (and the oracle gate) can compose
    it without a driver round-trip. Rows with a NULL label or NULL
    probability are excluded from the confusion cells and counted in
    ``skipped``. All counts are exact integers."""
    pred = F.col(prob_col) >= F.lit(float(threshold))
    truth = F.col(label_col).cast("boolean")
    valid = truth.isNotNull() & F.col(prob_col).isNotNull()

    def _n(cond) -> F.Column:
        return F.sum(F.when(valid & cond, 1).otherwise(0))

    return scored.agg(
        _n(pred & truth).alias("tp"),
        _n(pred & ~truth).alias("fp"),
        _n(~pred & truth).alias("fn"),
        _n(~pred & ~truth).alias("tn"),
        F.sum(F.when(~valid, 1).otherwise(0)).alias("skipped"),
    )


def classifier_report(
    scored: DataFrame,
    label_col: str,
    prob_col: str = "prob",
    threshold: float = 0.5,
) -> dict:
    """Evaluation of a scored frame against a boolean truth column: one
    aggregate (:func:`confusion_counts`) -> confusion counts +
    precision/recall/F1/accuracy at ``threshold``. The calibration step
    every production quality gate needs before its threshold goes into
    the funnel."""
    row = confusion_counts(scored, label_col, prob_col, threshold).first()
    tp, fp, fn, tn = (row[k] or 0 for k in ("tp", "fp", "fn", "tn"))
    precision = tp / (tp + fp) if tp + fp else None
    recall = tp / (tp + fn) if tp + fn else None
    f1 = (2 * precision * recall / (precision + recall)
          if precision and recall else None)
    total = tp + fp + fn + tn
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "precision": precision, "recall": recall, "f1": f1,
        "accuracy": (tp + tn) / total if total else None,
        "threshold": threshold, "n": total, "skipped": row["skipped"] or 0,
    }


def calibration_bins(
    scored: DataFrame,
    label_col: str,
    prob_col: str = "prob",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram data: bucket predictions by probability and
    compare each bucket's mean predicted probability to its empirical
    positive rate — a well-calibrated scorer tracks the diagonal. One
    groupBy over ``least(floor(prob * n_bins), n_bins - 1)``; returns
    ``(bin, n, mean_prob, frac_positive)`` (prob 1.0 folds into the top
    bin)."""
    b = F.least(F.floor(F.col(prob_col) * n_bins),
                F.lit(n_bins - 1)).cast("int")
    truth = F.col(label_col).cast("boolean")
    return (
        scored.filter(F.col(prob_col).isNotNull() & truth.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(prob_col).alias("mean_prob"),
            F.avg(truth.cast("double")).alias("frac_positive"),
        )
    )


def quality_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: HashedNgramNb,
) -> DataFrame:
    """Score every document: ``(id, n_feats, logit, prob)``. Documents
    with NULL text emit no row (the heuristic token gate owns them —
    lm_cross_entropy precedent). ``prob`` is the positive-class sigmoid;
    gate with ``prob >= threshold``.

    No feature explosion: an expression formulation explodes every
    unigram/bigram occurrence, shuffles the exploded frame TWICE (per-doc
    lead window for bigrams, then groupBy(id)) and runs one md5 → conv
    chain per occurrence. Here one Arrow-batched pandas_udf computes each
    document's (n_feats, logit) against the model's weight map (at most
    ``n_bins`` rows), so per-doc rows never widen and the only shuffle is
    the duplicate-id merge over one narrow row per document.

    The merge reconstructs the expression semantics exactly: grouped docs
    pool their features, and each row's partial carries NO bias term, so
    logit = bias + sum(partials) on any grouping. Float sums reassociate
    (Spark's own groupBy order is partition-dependent too); pinned within
    1e-9 by test_arrow_portable_path_matches_expression_chain."""
    wmap, bias, default_w = model.wmap, model.bias, model.default_w
    n_bins, bigrams = model.n_bins, model.bigrams

    # feat-string -> weight memo, shared across a task's batches via the
    # closure (guide §4.5 shape): Zipf repetition makes most md5 calls
    # dict hits; the weight lookup folds in for free
    memo: dict = {}

    @F.pandas_udf("struct<n_feats:long,logit:double>")
    def score_of(text: pd.Series) -> pd.DataFrame:
        get = memo.get
        n_out, l_out = [], []
        for t in text:
            if len(memo) > _FEAT_CACHE_MAX:
                memo.clear()
            feats = _py_feats(t, bigrams)
            part = 0.0
            for f in feats:
                w = get(f)
                if w is None:
                    memo[f] = w = wmap.get(_py_bucket(f, n_bins), default_w)
                part += w
            n_out.append(len(feats))
            l_out.append(part)
        return pd.DataFrame({"n_feats": n_out, "logit": l_out})

    base = ensure_min_parallelism(
        df.filter(F.col(text_col).isNotNull()), min_parts=_QCLF_MIN_PARTS)
    per_row = base.select(
        F.col(id_col).alias("id"), score_of(F.col(text_col)).alias("s"))
    logit = F.lit(bias) + F.sum("s.logit")
    return per_row.groupBy("id").agg(
        F.sum("s.n_feats").alias("n_feats"),
        logit.alias("logit"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("prob"),
    )
