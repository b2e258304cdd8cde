"""Materialized intermediates: each is owned by the frame or call that made
it, never by a CacheManager entry (ops/util.py ``Checkpointer``).

Background: Spark's CacheManager keys a ``persist()`` on the canonicalized
plan and splices it into every LATER query whose plan matches. Operators
that persisted intermediates therefore let a second invocation over the
same path read the FIRST invocation's blocks (stale results if the files
changed), and a name-keyed registry that retired the previous generation
on re-invocation made the previous invocation's frames recompute
nondeterministic columns per consumer. Local checkpoints belong to the
frame that reads them, so neither can happen.
"""

import pandas as pd
from pyspark.sql import functions as F

from graflo_spark.ops import dedup as dd
from graflo_spark.ops.quality_clf import train_quality_classifier


def _team_docs(spark, n_teams):
    """``(team_id, members)`` docs whose row ORDER changes on every
    evaluation, so ``monotonically_increasing_id`` assigns each
    evaluation's ids to different teams."""
    rows = [(t, [t * 10 + i for i in range(4)]) for t in range(n_teams)]
    src = spark.createDataFrame(
        rows, "team_id long, members array<long>").coalesce(1)

    def shuffled(it):
        pdfs = list(it)
        if pdfs:
            yield pd.concat(pdfs).sample(frac=1.0).reset_index(drop=True)

    return src.mapInPandas(shuffled, src.schema)


def test_recompile_keeps_first_batch_wiring(spark):
    """A second compile under the same resource name must not change what
    the FIRST batch reads. The descend edges join the root branch to the
    member branch on the base's ``monotonically_increasing_id``; if the
    base is recomputed per branch over a reshuffled input, every
    team->customer edge joins the wrong team."""
    from graflo_spark.compiler import compile_resource
    from graflo_spark.manifest import CoreSchema, Edge, Field, FieldType, Vertex
    from graflo_spark.steps import DescendStep, ResourceConfig, VertexStep

    schema = CoreSchema(
        vertices=[
            Vertex("team", [Field("team_id", FieldType.INT)],
                   identity=["team_id"]),
            Vertex("customer", [Field("c_id", FieldType.INT)],
                   identity=["c_id"]),
        ],
        edges=[Edge("team", "customer")])
    res = ResourceConfig("teams", steps=[
        VertexStep(name="team"),
        DescendStep(key="members", steps=[
            VertexStep(name="customer", mapping={"c_id": "__item"})]),
    ])

    def miswired(batch):
        (edges,) = batch.edges.values()
        rows = edges.select("_src_team_id", "_dst_c_id").collect()
        return sum(c // 10 != t for t, c in rows), len(rows)

    first = compile_resource(schema, res, _team_docs(spark, 30))
    assert miswired(first) == (0, 120)
    compile_resource(schema, res, _team_docs(spark, 5))
    assert miswired(first) == (0, 120)


def test_operators_leave_no_cache_manager_entries(spark):
    """minhash_dedup, near-dup clustering, bm25_topk and the compiler each
    materialize an intermediate; none may leave a CacheManager entry that
    a later query could plan-match."""
    from graflo_spark.compiler import compile_resource
    from graflo_spark.manifest import CoreSchema, Field, IdentityMode, Vertex
    from graflo_spark.ops import retrieval as rt
    from graflo_spark.steps import ResourceConfig, VertexStep

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "lazy dogs sleep all day long"), (4, None)],
        "doc_id long, text string")
    assert dd.minhash_dedup(docs, "doc_id", "text").count() == 3
    assert dd.minhash_near_dup_clusters(docs).count() == 4
    qs = spark.createDataFrame([(1, "quick fox")], "query_id long, text string")
    assert rt.bm25_topk(qs, docs, k=2).count() == 2
    schema = CoreSchema(
        vertices=[Vertex("note", [Field("body")], identity=[],
                         identity_mode=IdentityMode.BLANK)],
        edges=[])
    res = ResourceConfig(name="notes_cache", steps=[VertexStep(name="note")],
                         infer_edges=False)
    batch = compile_resource(
        schema, res, spark.createDataFrame([("a",), ("b",)], "body string"))
    assert batch.vertices["note"].count() == 2
    assert cache.isEmpty()


def test_minhash_candidates_reread_changed_files(spark, tmp_path):
    """A second invocation over a path whose FILES changed must reflect
    the new data — the leaked-persist bug plan-matched the first call's
    cache and returned stale pairs."""
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "aaaaaaaa bbbb"), (2, "aaaaaaaa bbbb"), (3, "zzzz")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    first = dd.minhash_lsh_candidates(
        spark.read.parquet(p), "doc_id", "text")
    assert first.count() == 1  # docs 1 and 2 are identical
    spark.createDataFrame(
        [(1, "qqqq"), (2, "wwww"), (3, "eeee")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    second = dd.minhash_lsh_candidates(
        spark.read.parquet(p), "doc_id", "text")
    assert second.count() == 0  # all-distinct texts: no candidates


def test_compile_reread_changed_files(spark, tmp_path):
    """A recompile over a path whose FILES changed must reflect the new
    data (r15: compiler.py's base persist was the last bare `.persist()`
    of the f3cc98d leak class — a later compile whose canonicalized plan
    matched spliced into the previous compile's blocks)."""
    from graflo_spark.compiler import compile_resource
    from graflo_spark.manifest import CoreSchema, Field, IdentityMode, Vertex
    from graflo_spark.steps import ResourceConfig, VertexStep

    # BLANK identity => _doc_id_matters() => the base-checkpoint path runs
    schema = CoreSchema(
        vertices=[Vertex("note", [Field("body")], identity=[],
                         identity_mode=IdentityMode.BLANK)],
        edges=[])
    res = ResourceConfig(name="notes_stale", steps=[VertexStep(name="note")],
                         infer_edges=False)
    p = str(tmp_path / "notes.parquet")
    spark.createDataFrame([("a",), ("b",)], "body string") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    first = compile_resource(schema, res, spark.read.parquet(p))
    assert first.vertices["note"].count() == 2
    spark.createDataFrame([("x",), ("y",), ("z",)], "body string") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    second = compile_resource(schema, res, spark.read.parquet(p))
    # THE assertion: with a persisted base, the second compile's plan
    # matched the first compile's cached blocks and this read 2 stale rows.
    assert second.vertices["note"].count() == 3


def test_pipeline_reinvoke_reflects_changed_files(spark, tmp_path):
    """A second prepare_training_data over a path whose FILES changed must
    reflect the new data (pipeline.py's annotated frame was the other
    bare-persist site; r15 made it an eager localCheckpoint — computed
    fresh per invocation, never plan-matched into stale blocks)."""
    from graflo_spark.ops.pipeline import PipelineConfig, prepare_training_data

    # per-doc DISSIMILAR texts: the near-dup stage must not pair them
    words = ["apple", "bridge", "copper", "dune", "ember", "fjord",
             "garnet", "harbor", "iris", "jasper", "kelp", "lagoon"]
    def doc(i):
        w = words[i % len(words)]
        return (i, f"{w} " * 3 + f"travel {w}note {i} report {w}{i} "
                   f"summary of the {w} season {i}")
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [doc(i) for i in range(12)], "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    cfg = PipelineConfig(decontam_ngram=3)
    _, ann1, funnel1 = prepare_training_data(
        spark.read.parquet(p), None, cfg)
    assert ann1.count() == 12
    assert {r["stage"]: r["n_docs"] for r in funnel1.collect()} == {
        "kept": 12}
    spark.createDataFrame(
        [doc(i) for i in range(8)], "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    _, ann2, funnel2 = prepare_training_data(
        spark.read.parquet(p), None, cfg)
    assert ann2.count() == 8
    assert {r["stage"]: r["n_docs"] for r in funnel2.collect()} == {
        "kept": 8}


def test_quality_clf_retrain_leaves_previous_weights_intact(spark):
    """Training a second model on different data leaves the first model's
    weights unchanged."""
    rows_a = [(i, ("good clean text " * 3) if i % 2 else ("spam " * 5),
               bool(i % 2)) for i in range(20)]
    rows_b = [(i, ("crisp prose here " * 2) if i % 2 else ("junk " * 7),
               bool(i % 2)) for i in range(30)]
    df_a = spark.createDataFrame(rows_a, "id long, text string, pos boolean")
    df_b = spark.createDataFrame(rows_b, "id long, text string, pos boolean")
    m1 = train_quality_classifier(df_a, "id", "text", F.col("pos"))
    w1 = sorted(map(tuple, m1.weights.collect()))
    m2 = train_quality_classifier(df_b, "id", "text", F.col("pos"))
    assert sorted(map(tuple, m2.weights.collect())) != w1
    assert sorted(map(tuple, m1.weights.collect())) == w1
