"""N-gram language-model quality scoring — the CCNet-style filter
(Wenzek et al. 2020, public): score every document by its cross-entropy
under a small LM trained on a reference slice; prose-like text scores low,
gibberish/boilerplate scores high. Here the LM is a Laplace-smoothed
bigram model whose count tables LIVE AS DATAFRAMES — training is two
distributed aggregates, scoring is two equi-joins plus a per-doc average,
and the whole path is reproducible in ANSI SQL (the oracle property;
a KenLM-style binary model could never be cross-engine verified).

Model: p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V), with V = |training
vocabulary| + 1 (the +1 is the OOV type). Unseen histories fall back to
the uniform 1/V smoothing mass automatically (c = 0 on both joins).
Scores are in nats per bigram; ``exp(score)`` is perplexity.

Scale shape: the count tables are corpus-sample aggregates (tiny next to
the corpus — broadcast when they fit, plain equi-joins otherwise);
scoring explodes each document's bigrams once (the same lead-window
formulation as ``textstats.bigram_entropy`` — codegen, not HOFs) and
aggregates per doc. Nothing driver-side, no Python in the row path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


@dataclass
class BigramLm:
    """Count tables + smoothing constants. ``unigrams``: (w, cu);
    ``bigrams``: (w1, w2, cb); ``v``: vocabulary size + 1 (OOV type)."""

    unigrams: DataFrame
    bigrams: DataFrame
    v: int


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) per consecutive token pair — posexplode + lead window
    (the codegen formulation; see the winnowing HOF A/B)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    exploded = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(toks).alias("pos", "w1"),
    )
    w_next = W.partitionBy("id").orderBy("pos")
    return (
        exploded.withColumn("w2", F.lead("w1").over(w_next))
        .filter(F.col("w2").isNotNull())
        .select("id", "w1", "w2")
    )


def train_bigram_lm(
    df: DataFrame,
    id_col: str,
    text_col: str,
    train_mod: int = 20,
) -> BigramLm:
    """Fit the bigram LM on the deterministic reference slice
    ``id % train_mod == 0`` (the same SQL-mirrorable convention as the
    decontamination benchmark split — a plain modulus any engine replays
    without an md5 bucket). Two aggregates; the eager ``v`` count is one
    tiny job."""
    train = df.filter(F.col(id_col) % train_mod == 0)
    bg = _doc_bigrams(train, id_col, text_col)
    unigrams = bg.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).alias("cu"))
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    v = unigrams.count() + 1
    return BigramLm(unigrams=unigrams, bigrams=bigrams, v=v)


def lm_cross_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: BigramLm,
    broadcast_counts: bool = True,
) -> DataFrame:
    """Per-document cross-entropy (nats/bigram) under the LM:
    ``(id, n_bigrams, cross_entropy)``; documents with fewer than two
    tokens emit no row. ``broadcast_counts`` broadcasts the count tables
    (right for sample-trained LMs); disable for LMs trained on a large
    slice and let AQE pick the join."""
    maybe_b = F.broadcast if broadcast_counts else (lambda x: x)
    bg = _doc_bigrams(df, id_col, text_col)
    joined = (
        bg.join(maybe_b(lm.bigrams), ["w1", "w2"], "left")
        .join(maybe_b(lm.unigrams.withColumnRenamed("w", "w1")), "w1", "left")
    )
    logp = F.log(
        (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(float(lm.v)))
    )
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum(logp) / F.count(F.lit(1))).alias("cross_entropy"),
        )
    )


def ccnet_quality_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: BigramLm,
    n_buckets: int = 3,
    exact: bool = True,
    cuts: list[float] | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail split: rank every document by LM
    cross-entropy and cut the corpus into ``n_buckets`` equal-size
    quality tiers — bucket 1 ('head') is the most fluent tier, the one
    CCNet-style pipelines keep or upsample. Returns
    ``(id, cross_entropy, bucket)``; with the default 3 buckets a
    ``label`` column carries head/middle/tail.

    ``exact=True`` uses ``ntile`` over a (score, id)-ordered window —
    deterministic and replayable in ANSI SQL (the oracle mode), but a
    GLOBAL sort (one partition holds the ordered scan). At 100 TB use
    ``exact=False``: bucket thresholds come from ``approxQuantile``
    literals (one driver-side sketch pass, same pattern as
    ``packing.token_offsets``) and the bucket assignment is a pure
    per-row comparison — no global sort, at the cost of sketch-accurate
    (not exact-count) tier boundaries, which is what production CCNet
    does anyway. ``cuts`` supplies the ``n_buckets - 1`` ascending
    threshold literals explicitly (skipping the sketch pass) — the replay
    mode: score a NEW corpus slice against the tier boundaries of a
    reference corpus, or freeze boundaries for a cross-engine oracle."""
    scores = lm_cross_entropy(df, id_col, text_col, lm)
    if cuts is not None and len(cuts) != n_buckets - 1:
        raise ValueError(
            f"ccnet_quality_buckets: {n_buckets} buckets need "
            f"{n_buckets - 1} cuts, got {len(cuts)}")
    if exact and cuts is None:
        w = W.orderBy("cross_entropy", "id")
        out = scores.withColumn("bucket", F.ntile(n_buckets).over(w))
    else:
        if cuts is None:
            probs = [i / n_buckets for i in range(1, n_buckets)]
            cuts = scores.approxQuantile("cross_entropy", probs, 0.001)
        bucket = F.lit(1)
        for c in cuts:
            bucket = bucket + F.when(
                F.col("cross_entropy") > F.lit(float(c)), 1).otherwise(0)
        out = scores.withColumn("bucket", bucket)
    if n_buckets == 3:
        out = out.withColumn(
            "label",
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail"),
        )
    return out
