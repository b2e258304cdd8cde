"""scoped_persist (ops/util.py): within-invocation cache reuse WITHOUT
session-lifetime CacheManager entries or cross-invocation plan-matching.

Background (r14): ``minhash_lsh_candidates`` and
``train_quality_classifier`` persisted intermediates and never
unpersisted them. Spark's CacheManager splices a cached entry into every
LATER query whose canonicalized plan matches, so a second invocation
over the same path silently read the FIRST invocation's blocks — stale
results if the files changed, and a benchmark run that skips the work
being timed — while the entries accumulated for the session.
"""

import pytest
from pyspark.sql import functions as F

from graflo_spark.ops import dedup as dd
from graflo_spark.ops.quality_clf import train_quality_classifier
from graflo_spark.ops.util import scoped_persist


def test_single_generation_per_scope(spark):
    a = spark.range(10).withColumn("x", F.col("id") * 2)
    b = spark.range(10).withColumn("x", F.col("id") * 3)
    pa = scoped_persist(a, "test.scope")
    pa.count()
    assert pa.storageLevel.useMemory
    pb = scoped_persist(b, "test.scope")
    pb.count()
    # the previous generation was unpersisted: its storage level is reset
    assert not pa.storageLevel.useMemory
    assert pb.storageLevel.useMemory
    # distinct scopes do not evict each other
    pc = scoped_persist(a.withColumn("y", F.lit(1)), "test.scope2")
    pc.count()
    assert pb.storageLevel.useMemory and pc.storageLevel.useMemory
    for df in (pb, pc):
        df.unpersist()
    from graflo_spark.ops.util import _SCOPED_CACHE
    _SCOPED_CACHE.pop("test.scope", None)
    _SCOPED_CACHE.pop("test.scope2", None)


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
    from graflo_spark.ops.util import _SCOPED_CACHE
    from graflo_spark.steps import ResourceConfig, VertexStep

    # BLANK identity => _doc_id_matters() => the base-persist path runs
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
    base1 = _SCOPED_CACHE.get("compiler.base.notes_stale")
    assert base1 is not None and base1.storageLevel.useMemory
    spark.createDataFrame([("x",), ("y",), ("z",)], "body string") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    second = compile_resource(schema, res, spark.read.parquet(p))
    # THE assertion: pre-fix, the second compile's persist plan-matched
    # the first compile's cached blocks and this read 2 stale rows.
    # (storageLevel on base1 can't witness the retirement here: both
    # compiles scan the same path, so CacheManager answers base1's plan
    # with the SECOND generation's entry — the retrain test covers the
    # distinct-plan case.)
    assert second.vertices["note"].count() == 3
    # single generation per scope: the cache advanced to a new frame
    base2 = _SCOPED_CACHE.pop("compiler.base.notes_stale", None)
    assert base2 is not None and base2 is not base1
    base2.unpersist()


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
