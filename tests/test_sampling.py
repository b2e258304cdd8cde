"""Deterministic hash sampling / splitting: partition-layout invariance,
split disjointness+stability under corpus growth, rate accuracy."""

import pytest
from pyspark.sql import functions as F

from graflo_spark.ops.sampling import hash_sample, hash_split


def test_hash_sample_layout_invariant_and_rate(spark):
    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    kept1 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.3).collect()}
    # different partitioning, same sample — df.sample() fails this
    kept2 = {r["doc_id"] for r in hash_sample(
        df.repartition(7), "doc_id", 0.3).collect()}
    assert kept1 == kept2
    assert abs(len(kept1) / 20_000 - 0.3) < 0.02  # rate accurate
    # independent salts give different (overlapping-by-chance) samples
    kept3 = {r["doc_id"] for r in hash_sample(
        df, "doc_id", 0.3, salt="other").collect()}
    assert kept3 != kept1

    with pytest.raises(ValueError, match="rate"):
        hash_sample(df, "doc_id", 1.5)


def test_hash_split_disjoint_exhaustive_stable(spark):
    df = spark.range(10_000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = hash_split(df, "doc_id", w)
    by_split = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(by_split) == {"train", "val", "test"}
    assert sum(by_split.values()) == 10_000  # exhaustive + disjoint
    assert abs(by_split["train"] / 10_000 - 0.8) < 0.02

    # corpus growth: previously-seen ids keep their split (no test leakage)
    small = {r["doc_id"]: r["split"]
             for r in hash_split(df.filter("doc_id < 1000"), "doc_id", w).collect()}
    full = {r["doc_id"]: r["split"] for r in out.collect()}
    assert all(full[i] == s for i, s in small.items())

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", {"a": 0.5, "b": 0.4})


def test_md5_membership_layout_invariant_split_and_mix(spark):
    """The md5-60bit bucket (SQL-replayable) keeps every contract: layout
    invariance, disjoint/exhaustive splits, and mix proportions from the
    no-upsampling target."""
    from graflo_spark.ops.sampling import hash_sample, hash_split, mix_corpora

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s1 = hash_sample(df, "doc_id", 0.5)
    s2 = hash_sample(df.repartition(13), "doc_id", 0.5)
    a = {r["doc_id"] for r in s1.collect()}
    b = {r["doc_id"] for r in s2.collect()}
    assert a == b  # layout-invariant
    assert abs(len(a) - 1000) < 100

    sp = hash_split(df, "doc_id", {"train": 0.8, "val": 0.2})
    counts = {r["split"]: r["n"] for r in
              sp.groupBy("split").agg(__import__("pyspark").sql.functions
                                      .count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert abs(counts["train"] - 1600) < 120

    even = df.filter("doc_id % 2 = 0")
    odd = df.filter("doc_id % 2 = 1")
    mixed = mix_corpora({"e": even, "o": odd}, {"e": 0.75, "o": 0.25},
                        "doc_id")
    mc = {r["source_name"]: r["n"] for r in
          mixed.groupBy("source_name").agg(
              __import__("pyspark").sql.functions.count("*").alias("n"))
          .collect()}
    # T = min(1000/.75, 1000/.25) = 1333.3: e kept fully-ish, o at ~333
    assert mc["e"] == 1000 and abs(mc["o"] - 333) < 60


def test_select_to_token_budget_exact_and_approx(spark):
    from pyspark.sql import functions as F

    from graflo_spark.ops.sampling import select_to_token_budget

    # scores descend with id; tokens constant 10 -> budget 35 keeps 3 docs
    df = spark.createDataFrame(
        [(i, 10, float(100 - i)) for i in range(10)],
        "doc_id long, n_tok int, score double")
    got = select_to_token_budget(df, "doc_id", "n_tok", 35, "score")
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 1, 2]

    # prefix semantics: a big doc at the cut blocks everything after it
    df2 = spark.createDataFrame(
        [(0, 10, 9.0), (1, 50, 8.0), (2, 10, 7.0)],
        "doc_id long, n_tok int, score double")
    got2 = select_to_token_budget(df2, "doc_id", "n_tok", 30, "score")
    assert sorted(r["doc_id"] for r in got2.collect()) == [0]

    # no score: smallest-id truncation
    got3 = select_to_token_budget(df, "doc_id", "n_tok", 25)
    assert sorted(r["doc_id"] for r in got3.collect()) == [0, 1]

    # approx mode: never overspends, keeps a score-threshold prefix
    big = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tok"),
        (1000 - F.col("id")).cast("double").alias("score"))
    ap = select_to_token_budget(
        big, "doc_id", "n_tok", 2000, "score", approx_buckets=50)
    rows = ap.collect()
    assert 0 < sum(r["n_tok"] for r in rows) <= 2000
    kept = {r["doc_id"] for r in rows}
    assert kept == set(range(len(kept)))  # a prefix of the score order


def test_token_budget_frozen_cuts_and_undershoot_contract(spark):
    """The replay mode (cuts=...) must equal the sketch mode's post-sketch
    mechanics, and the approx selection must undershoot the exact-mode
    selection by at most ONE bucket's incremental mass."""
    from pyspark.sql import functions as F

    from graflo_spark.ops.sampling import select_to_token_budget

    big = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tok"),
        (1000 - F.col("id")).cast("double").alias("score"))
    budget = 2000
    cuts = [900.0, 800.0, 700.0, 600.0, 500.0]

    got = select_to_token_budget(
        big, "doc_id", "n_tok", budget, "score", cuts=cuts)
    rows = got.collect()
    mass = sum(r["n_tok"] for r in rows)
    assert mass <= budget
    # chosen cut must be 900 (mass at 900 = 101*10 = 1010 <= 2000; at 800
    # mass = 2010 > 2000): the deepest under-budget cut
    assert {r["doc_id"] for r in rows} == set(range(101))

    # undershoot <= one bucket's incremental mass: adding the NEXT
    # bucket's docs overshoots the budget
    next_mass = big.filter(F.col("score") >= 800.0).agg(
        F.sum("n_tok")).first()[0]
    assert next_mass > budget

    # the exact mode fits strictly more mass but never over budget:
    # approx is within one bucket of it
    exact_mass = sum(
        r["n_tok"] for r in select_to_token_budget(
            big, "doc_id", "n_tok", budget, "score").collect())
    assert mass <= exact_mass <= budget
    assert exact_mass - mass < next_mass - mass  # gap < one bucket step

    # unordered / duplicated cut literals are normalized
    got2 = select_to_token_budget(
        big, "doc_id", "n_tok", budget, "score",
        cuts=[500.0, 900.0, 700.0, 900.0, 600.0, 800.0])
    assert sorted(r["doc_id"] for r in got2.collect()) == sorted(
        r["doc_id"] for r in rows)
