"""SemDeDup-style semantic dedup (graflo_spark.ops.dedup.semantic_dedup)."""

from pyspark.sql import functions as F

from graflo_spark.ops.dedup import (
    embedding_near_dup_exact,
    semantic_dedup,
)
from graflo_spark.ops.graphalgo import near_dup_clusters


def _vecs(spark):
    # three well-separated direction groups; in-group cosine ~0.9999,
    # cross-group ~0.01
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.012, 0.0]),
        (2, [0.998, -0.011, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.012, 0.999, 0.0]),
        (5, [0.0, 0.0, 1.0]),       # singleton
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _assignments(df):
    return {r["vec_id"]: (r["cluster"], r["is_representative"])
            for r in df.collect()}


def _exact_closure(spark, vecs, threshold):
    pairs = embedding_near_dup_exact(vecs, "vec_id", "embedding", threshold)
    return near_dup_clusters(
        vecs.select("vec_id"), pairs.select("id_a", "id_b"), id_col="vec_id")


def test_semantic_dedup_exact_recall_point(spark):
    """n_clusters=1 is the recall-1 grading point: one block => every pair
    compared exactly => identical to the all-pairs closure."""
    vecs = _vecs(spark)
    got = _assignments(semantic_dedup(vecs, threshold=0.99, n_clusters=1))
    want = _assignments(_exact_closure(spark, vecs, 0.99))
    assert got == want
    # structure: groups {0,1,2} and {3,4}, singleton 5
    clusters = {}
    for vid, (c, _) in got.items():
        clusters.setdefault(c, set()).add(vid)
    assert sorted(map(sorted, clusters.values())) == [[0, 1, 2], [3, 4], [5]]


def test_semantic_dedup_blocked_preserves_tight_groups(spark):
    """With k=3 blocks over three well-separated groups, KMeans keeps each
    group in one cell, so the blocked result equals the exact closure and
    exactly one representative survives per group."""
    vecs = _vecs(spark)
    out = semantic_dedup(vecs, threshold=0.99, n_clusters=3, seed=7)
    assert _assignments(out) == _assignments(_exact_closure(spark, vecs, 0.99))
    reps = out.filter("is_representative").count()
    assert reps == out.select("cluster").distinct().count() == 3


def test_semantic_dedup_quality_aware_representative(spark):
    vecs = _vecs(spark)
    scores = spark.createDataFrame(
        [(0, 0.1), (1, 0.9), (2, 0.5), (3, 0.2), (4, 0.8), (5, 0.3)],
        "vec_id long, score double",
    )
    out = semantic_dedup(
        vecs, threshold=0.99, n_clusters=1, scores=scores)
    reps = {r["cluster"]: r["vec_id"]
            for r in out.filter("is_representative").collect()}
    by_id = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert reps[by_id[0]] == 1     # best score in {0,1,2}
    assert reps[by_id[3]] == 4     # best score in {3,4}
    assert reps[by_id[5]] == 5
    # every doc still present exactly once
    assert out.count() == 6


def test_semantic_dedup_no_cross_group_false_positives(spark):
    """Whatever the blocking does, a reported pair must be a true cosine
    match: putting two distinct groups in ONE cell (k=1) at a high
    threshold never merges them."""
    vecs = _vecs(spark)
    out = semantic_dedup(vecs, threshold=0.999999, n_clusters=1)
    groups = {}
    for vid, (c, _) in _assignments(out).items():
        groups.setdefault(c, set()).add(vid)
    # above every true pairwise cosine (max ~0.99994): all singletons
    assert all(len(g) == 1 for g in groups.values())


def test_semantic_dedup_frozen_centroids_matches_fit_free_closure(spark):
    """The frozen-centroid path (no KMeans fit) with centroids at the three
    group directions assigns each group to its own cell, so the result
    equals the exact closure; ties in the argmin pick the smallest cluster
    id deterministically."""
    vecs = _vecs(spark)
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    out = semantic_dedup(vecs, threshold=0.99, centroids=cents)
    assert _assignments(out) == _assignments(_exact_closure(spark, vecs, 0.99))


def test_assign_to_centroids_argmin_and_ties(spark):
    from graflo_spark.ops.simsearch import assign_to_centroids

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [5.0, 0.0])],
        "vec_id long, embedding array<double>")
    idx = assign_to_centroids(df, [[0.0, 0.0], [10.0, 0.0]])
    got = {r["neighbor_id"]: r["cluster"] for r in idx.assigned.collect()}
    # vec 2 is equidistant: tie breaks to the smaller cluster id
    assert got == {0: 0, 1: 1, 2: 0}
    assert idx.centroids.count() == 2


def test_assign_arrow_matches_expression_path(spark):
    """r14: the Arrow assignment path must agree with the
    expression formulation (zip_with/aggregate fold + struct-least)
    ROW FOR ROW — including every degenerate shape the fold's NULL
    propagation maps to cluster 0 (NULL vector, wrong length, NULL
    element) and non-finite elements where numpy argmin's first-minimum
    must match struct-least's smallest-c tie-break. Random block: both
    paths accumulate float64 in index order, so equality is exact, not
    approximate."""
    import random

    from graflo_spark.ops.simsearch import assign_to_centroids

    rng = random.Random(14)
    dim, k = 16, 5
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(k)]
    rows = [
        (100, None),
        (101, []),
        (102, [1.0] * (dim - 1)),          # short
        (103, [1.0] * (dim + 1)),          # long
        (104, [float("nan")] + [0.0] * (dim - 1)),
        (105, [float("inf")] + [0.0] * (dim - 1)),
        (106, [None] + [0.5] * (dim - 1)),  # NULL element
        (107, [1e200] + [0.0] * (dim - 1)),  # squares overflow to inf
    ] + [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    got = {
        r["neighbor_id"]: r["cluster"]
        for r in assign_to_centroids(df, cents).assigned.collect()
    }
    # the expression formulation, inlined verbatim as the referee:
    # per-centroid zip_with/aggregate fold + struct-least argmin
    c = df.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    )
    structs = []
    for i, cent in enumerate(cents):
        lit = F.lit([float(x) for x in cent])
        d2 = F.aggregate(
            F.zip_with(F.col("c_vec"), lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        structs.append(F.struct(d2.alias("d"), F.lit(i).alias("c")))
    best = F.least(*structs) if len(structs) > 1 else structs[0]
    want = {
        r["neighbor_id"]: r["cluster"]
        for r in c.select(
            "neighbor_id", best["c"].cast("int").alias("cluster")).collect()
    }
    assert got == want
    assert got[100] == got[101] == got[102] == got[103] == got[106] == 0
