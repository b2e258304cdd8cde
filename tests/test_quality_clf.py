"""Hashed-ngram NB quality classifier (ops/quality_clf): brute-force
parity with a pure-Python reimplementation, partitioning invariance,
class guards, and the pipeline 'clf_quality' funnel stage."""

import hashlib
import math

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from graflo_spark.ops.quality_clf import (
    quality_scores,
    train_quality_classifier,
)

US = chr(31)


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _brute(docs, train_ids, pos_ids, n_bins, bigrams=True):
    """Pure-Python NB over hashed unigram+bigram features."""
    def feats(text):
        toks = text.strip().split()
        out = [_h60(t) % n_bins for t in toks]
        if bigrams:
            out += [_h60(a + US + b) % n_bins
                    for a, b in zip(toks, toks[1:])]
        return out

    cp, cn = {}, {}
    tp = tn = np = nn = 0
    for i, text in docs.items():
        if i not in train_ids:
            continue
        pos = i in pos_ids
        np, nn = np + pos, nn + (not pos)
        for b in feats(text):
            if pos:
                cp[b] = cp.get(b, 0) + 1
                tp += 1
            else:
                cn[b] = cn.get(b, 0) + 1
                tn += 1
    bias = math.log(np / nn)
    scores = {}
    for i, text in docs.items():
        fs = feats(text)
        logit = bias
        for b in fs:
            logit += (math.log((cp.get(b, 0) + 1) / (tp + n_bins))
                      - math.log((cn.get(b, 0) + 1) / (tn + n_bins)))
        scores[i] = (len(fs), logit, 1 / (1 + math.exp(-logit)))
    return scores


DOCS = {
    0: "the cat sat on the mat and the dog slept",
    1: "le chat est sur le tapis et le chien dort",
    2: "the quick brown fox jumps over the lazy dog",
    3: "je pense donc je suis et le monde tourne",
    4: "a plain english sentence with the usual words",
    5: "une phrase en francais avec les mots habituels",
    6: "the dog and the cat share the mat today",
    7: "le chien et le chat partagent le tapis",
}
TRAIN = {0, 1, 2, 3}        # id % 2 == 0 would miss class balance; explicit
POS = {0, 2, 4, 6}          # 'english' ids


def _df(spark):
    return spark.createDataFrame(
        [(i, t, i in POS) for i, t in DOCS.items()],
        ["doc_id", "text", "is_en"])


def test_scores_match_pure_python_reimplementation(spark):
    df = _df(spark)
    model = train_quality_classifier(
        df.filter(F.col("doc_id").isin(list(TRAIN))),
        "doc_id", "text", F.col("is_en"), n_bins=64)
    got = {r["id"]: (r["n_feats"], r["logit"], r["prob"])
           for r in quality_scores(df, "doc_id", "text", model).collect()}
    want = _brute(DOCS, TRAIN, POS, n_bins=64)
    assert set(got) == set(DOCS)
    for i in DOCS:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], abs=1e-9)
        assert got[i][2] == pytest.approx(want[i][2], abs=1e-12)


def test_classifier_separates_the_classes(spark):
    df = _df(spark)
    model = train_quality_classifier(
        df.filter(F.col("doc_id").isin(list(TRAIN))),
        "doc_id", "text", F.col("is_en"), n_bins=64)
    probs = {r["id"]: r["prob"]
             for r in quality_scores(df, "doc_id", "text", model).collect()}
    # held-out docs with training-vocabulary overlap score on the right
    # side of 0.5 (6 shares the/dog/cat/mat with 0+2, 7 shares
    # le/chien/chat/tapis with 1+3; 4/5 share nothing — an 8-doc corpus
    # can't generalize to zero-overlap text and shouldn't pretend to)
    assert probs[6] > 0.5, probs[6]
    assert probs[7] < 0.5, probs[7]
    # training docs classify correctly
    for i in (0, 2):
        assert probs[i] > 0.5, (i, probs[i])
    for i in (1, 3):
        assert probs[i] < 0.5, (i, probs[i])


def test_scores_invariant_under_repartition(spark):
    df = _df(spark)
    model = train_quality_classifier(
        df.filter(F.col("doc_id").isin(list(TRAIN))),
        "doc_id", "text", F.col("is_en"), n_bins=64)
    a = {r["id"]: round(r["logit"], 9)
         for r in quality_scores(df, "doc_id", "text", model).collect()}
    b = {r["id"]: round(r["logit"], 9)
         for r in quality_scores(
             df.repartition(7), "doc_id", "text", model).collect()}
    assert a == b


def test_single_class_training_raises(spark):
    df = _df(spark).filter(F.col("is_en"))
    with pytest.raises(ValueError, match="both classes"):
        train_quality_classifier(df, "doc_id", "text", F.col("is_en"))


def test_null_text_emits_no_row_and_unseen_buckets_use_floor(spark):
    df = _df(spark)
    # collision-free bin space: at 64 bins the "unseen" features collide
    # with trained buckets and the floor-weight arithmetic can't be
    # asserted exactly
    model = train_quality_classifier(
        df.filter(F.col("doc_id").isin(list(TRAIN))),
        "doc_id", "text", F.col("is_en"), n_bins=1 << 20)
    extra = spark.createDataFrame(
        [(100, None, True), (101, "zzzz qqqq wwww", True)],
        ["doc_id", "text", "is_en"])
    got = {r["id"]: r for r in quality_scores(
        df.unionByName(extra), "doc_id", "text", model).collect()}
    assert 100 not in got                       # NULL text: no row
    # all-unseen features: logit = bias + n_feats * default_w, exactly
    r = got[101]
    want = model.bias + r["n_feats"] * model.default_w
    assert r["logit"] == pytest.approx(want, abs=1e-9)


WS_EDGE_DOCS = [
    (0, "the cat sat on the mat"),
    (1, ""),                       # -> [''] : one empty-string feature
    (2, "   "),                    # trim -> '' -> ['']
    (3, "\tleading tab"),          # -> ['', 'leading', 'tab']
    (4, "trailing tab\t"),         # -> ['trailing', 'tab', '']
    (5, "nb space en sp 　ideo"),  # unicode ws: NOT split
    (6, "a\nb\rc\x0bd\x0ce"),      # every ASCII \s class member splits
    (7, "  padded  interior   runs  "),
    (8, None),                     # NULL text: no row
    (9, "solo token row"),
]


def _doc_buckets(df, id_col, text_col, n_bins, bigrams, carry=None):
    """The expression formulation of feature bucketing, replayed verbatim:
    (id, [carry...], bucket) — one row per md5-hashed unigram/bigram
    occurrence via posexplode + lead window."""
    carry = carry or []
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    ex = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in carry],
        F.posexplode(toks).alias("pos", "w"),
    )
    uni = ex.select("id", *carry, F.col("w").alias("feat"))
    if bigrams:
        w_next = W.partitionBy("id").orderBy("pos")
        bi = (
            ex.withColumn("w2", F.lead("w").over(w_next))
            .filter(F.col("w2").isNotNull())
            .select("id", *carry,
                    F.concat_ws(US, "w", "w2").alias("feat"))
        )
        uni = uni.unionByName(bi)
    h = F.conv(F.substring(F.md5("feat"), 1, 15), 16, 10).cast("long")
    return uni.select("id", *carry, F.pmod(h, F.lit(n_bins)).alias("bucket"))


def _expression_scores(df, id_col, text_col, model):
    """The pre-r14 expression formulation of quality_scores, replayed
    verbatim: posexplode + lead-window bigrams + md5 chain + broadcast
    weight join + groupBy(id)."""
    feats = _doc_buckets(
        df, id_col, text_col, model.n_bins, model.bigrams)
    joined = feats.join(F.broadcast(model.weights), "bucket", "left")
    logit = F.lit(model.bias) + F.sum(
        F.coalesce(F.col("wt"), F.lit(model.default_w)))
    return joined.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_feats"),
        logit.alias("logit"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("prob"),
    )


def test_arrow_portable_path_matches_expression_chain(spark):
    """r14: the portable-hash path runs Arrow-batched (python md5 +
    driver weight map) — pin it feature-for-feature against the former
    expression chain on every tokenizer edge case: empty tokens from
    leading/trailing ASCII whitespace, unicode spaces that must NOT
    split, NULL text, and duplicate ids whose features pool."""
    docs = spark.createDataFrame(
        [(i, t, i % 2 == 0) for i, t in WS_EDGE_DOCS],
        ["doc_id", "text", "is_en"])
    model = train_quality_classifier(
        docs, "doc_id", "text", F.col("is_en"), n_bins=64)

    # training counts: Arrow partial-count path vs the expression
    # explode+groupBy, exact integer equality per bucket
    labeled = docs.filter(F.col("text").isNotNull()).withColumn(
        "__pos", F.col("is_en").cast("boolean"))
    expr_counts = {
        r["bucket"]: (r["cp"], r["cn"])
        for r in _doc_buckets(
            labeled, "doc_id", "text", 64, True, carry=["__pos"])
        .groupBy("bucket").agg(
            F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("cp"),
            F.sum(F.when(~F.col("__pos"), 1).otherwise(0)).alias("cn"))
        .collect()
    }
    from graflo_spark.ops.quality_clf import _train_counts_arrow

    got_counts = {
        r["bucket"]: (r["cp"], r["cn"])
        for r in _train_counts_arrow(labeled, "text", 64, True).collect()
    }
    # bucket -1 carries the class prior's labeled-doc counts (one scan)
    n_pos = labeled.filter(F.col("__pos")).count()
    n_neg = labeled.filter(~F.col("__pos")).count()
    assert got_counts.pop(-1) == (n_pos, n_neg)
    assert got_counts == expr_counts

    # scoring: n_feats exact, logit/prob within float-reassociation noise
    got = {r["id"]: r for r in quality_scores(
        docs, "doc_id", "text", model).collect()}
    want = {r["id"]: r for r in _expression_scores(
        docs, "doc_id", "text", model).collect()}
    assert set(got) == set(want)
    for i in got:
        assert got[i]["n_feats"] == want[i]["n_feats"], i
        assert got[i]["logit"] == pytest.approx(
            want[i]["logit"], abs=1e-9), i
        assert got[i]["prob"] == pytest.approx(
            want[i]["prob"], abs=1e-12), i


def test_arrow_portable_duplicate_ids_pool_per_row(spark):
    """Duplicate-id merge on the Arrow path: features pool across the
    rows (n_feats sums; logit = bias + sum of per-row partials) and
    bigrams NEVER span rows. The former lead-window path interleaved
    same-id rows' tokens inside one window partition under an arbitrary
    pos tie-break — duplicate-id bigrams were nondeterministic; the
    Arrow path's per-row formation is the deterministic semantics, so
    it's pinned against per-row scoring + manual merge, not the chain."""
    base = [(1, "alpha beta gamma"), (2, "delta")]
    dup = base + [(1, "epsilon zeta")]
    docs = spark.createDataFrame(dup, ["doc_id", "text"])
    train = spark.createDataFrame(
        [(10, "alpha beta", True), (11, "gamma delta", False)],
        ["doc_id", "text", "is_en"])
    model = train_quality_classifier(
        train, "doc_id", "text", F.col("is_en"), n_bins=64)
    got = {r["id"]: r for r in quality_scores(
        docs, "doc_id", "text", model).collect()}
    solo = {r["id"]: r for r in quality_scores(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (3, "epsilon zeta")],
            ["doc_id", "text"]),
        "doc_id", "text", model).collect()}
    assert got[1]["n_feats"] == solo[1]["n_feats"] + solo[3]["n_feats"]
    want_logit = (solo[1]["logit"] - model.bias) + solo[3]["logit"]
    assert got[1]["logit"] == pytest.approx(want_logit, abs=1e-9)


def test_pipeline_clf_quality_stage(spark):
    from graflo_spark.ops.pipeline import PipelineConfig, annotate

    # ids chosen so id % 2 == 0 is the training slice with both classes;
    # held-out docs (odd ids) share vocabulary with same-class training
    rows = [
        (0, "the cat sat on the mat and the dog slept by the door", "en"),
        (1, "the cat and the dog sat on the mat by the door again", "en"),
        (2, "le chat est sur le tapis et le chien dort pres de la porte",
         "fr"),
        (3, "le chien dort sur le tapis et le chat est pres de la porte",
         "fr"),
        (4, "the dog and the cat sat by the door on the mat today", "en"),
        (5, "le chat et le chien dort sur le tapis pres de la porte", "fr"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    cfg = PipelineConfig(
        min_quality=0.0, min_tokens=1,
        clf_pos_filter="lang = 'en'", clf_train_mod=2,
        splits={"train": 1.0},
    )
    ann = {r["doc_id"]: r["drop_stage"] for r in annotate(
        docs, None, cfg).collect()}
    # French docs are charged to the classifier stage, English survive
    assert ann[5] == "clf_quality"
    assert ann[4] is None
    # held-out english doc 1 (odd id, not in training slice) survives too
    assert ann[1] is None
    assert ann[3] == "clf_quality"


def test_dsir_importance_matches_brute_and_zero_prior(spark):
    """log_w must equal the brute NB logit minus the class prior (the DSIR
    log-ratio has no prior term), computed over the target/raw slices."""
    df = _df(spark)
    target = df.filter(F.col("doc_id").isin([0, 2]))   # english slice
    raw = df.filter(F.col("doc_id").isin([1, 3]))      # crawl slice
    from graflo_spark.ops.quality_clf import dsir_importance

    got = {r["id"]: (r["n_feats"], r["log_w"])
           for r in dsir_importance(
               df, "doc_id", "text", target, raw, n_bins=64).collect()}
    want = _brute(DOCS, {0, 1, 2, 3}, {0, 2}, n_bins=64)
    bias = math.log(2 / 2)  # equal slice sizes -> 0, kept for clarity
    for i in DOCS:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1] - bias, abs=1e-9)
    # direction: english docs score positive, french negative
    assert got[6][1] > 0 > got[7][1]


def test_dsir_select_gumbel_topk_deterministic_and_layout_invariant(spark):
    from graflo_spark.ops.quality_clf import dsir_importance, dsir_select

    df = _df(spark)
    target = df.filter(F.col("doc_id").isin([0, 2]))
    raw = df.filter(F.col("doc_id").isin([1, 3]))
    scored = dsir_importance(df, "doc_id", "text", target, raw, n_bins=64)
    a = sorted(r["id"] for r in dsir_select(scored, 4).collect())
    b = sorted(r["id"] for r in dsir_select(
        scored.repartition(5), 4).collect())
    assert a == b and len(a) == 4
    # different salt -> (possibly) different sample, but still size k and
    # still deterministic
    c1 = sorted(r["id"] for r in dsir_select(
        scored, 4, salt="other").collect())
    c2 = sorted(r["id"] for r in dsir_select(
        scored, 4, salt="other").collect())
    assert c1 == c2 and len(c1) == 4
    # keys attach and order the selection: max key first
    rows = dsir_select(scored, 4).collect()
    keys = [r["gumbel_key"] for r in rows]
    assert keys == sorted(keys, reverse=True)


def test_dsir_resampling_prefers_high_weight_docs(spark):
    """With k = half the corpus and a strong weight gap, the selected set
    must be dominated by target-like documents (the Gumbel-max property:
    selection probability is proportional to exp(log_w))."""
    from graflo_spark.ops.quality_clf import dsir_importance, dsir_select

    df = _df(spark)
    target = df.filter(F.col("doc_id").isin([0, 2]))
    raw = df.filter(F.col("doc_id").isin([1, 3]))
    scored = dsir_importance(df, "doc_id", "text", target, raw, n_bins=64)
    sel = {r["id"] for r in dsir_select(scored, 4).collect()}
    # english docs (POS) carry log_w ~ +5..+40, french ~ -5..-40: at
    # least 3 of the 4 picks must be english
    assert len(sel & POS) >= 3


def test_classifier_report_confusion_and_metrics(spark):
    from graflo_spark.ops.quality_clf import classifier_report

    scored = spark.createDataFrame(
        [(0, 0.9, True), (1, 0.8, True), (2, 0.7, False),   # tp tp fp
         (3, 0.2, True), (4, 0.1, False), (5, 0.3, False),  # fn tn tn
         (6, None, True), (7, 0.6, None)],                  # skipped x2
        "id long, prob double, y boolean")
    r = classifier_report(scored, "y", threshold=0.5)
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 2)
    assert r["precision"] == pytest.approx(2 / 3)
    assert r["recall"] == pytest.approx(2 / 3)
    assert r["f1"] == pytest.approx(2 / 3)
    assert r["accuracy"] == pytest.approx(4 / 6)
    assert r["n"] == 6 and r["skipped"] == 2
    # threshold moves the cut: at 0.25, doc 5 (0.3, neg) flips to fp
    r2 = classifier_report(scored, "y", threshold=0.25)
    assert (r2["tp"], r2["fp"], r2["fn"], r2["tn"]) == (2, 2, 1, 1)


def test_calibration_bins_track_buckets(spark):
    from graflo_spark.ops.quality_clf import calibration_bins

    rows = ([(i, 0.05, i < 1) for i in range(10)]        # bin 0: 10% pos
            + [(i + 10, 0.95, i < 9) for i in range(10)]  # bin 9: 90% pos
            + [(100, 1.0, True)])                         # folds into bin 9
    scored = spark.createDataFrame(rows, "id long, prob double, y boolean")
    got = {r["bin"]: r for r in calibration_bins(scored, "y").collect()}
    assert set(got) == {0, 9}
    assert got[0]["n"] == 10
    assert got[0]["frac_positive"] == pytest.approx(0.1)
    assert got[9]["n"] == 11   # prob 1.0 folded in
    assert got[9]["frac_positive"] == pytest.approx(10 / 11)
    assert got[0]["mean_prob"] == pytest.approx(0.05)
