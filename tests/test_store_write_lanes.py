"""GraphStore.write_batch lanes: one lane per table, the frames of a table
applied in the order given, distinct tables written concurrently, then one
graph commit.

Every test here is deterministic: concurrency is proven with a barrier
that only two lanes in flight at once can pass, never with timings.
"""

import threading

import pandas as pd
import pytest

from graflo_spark.container import GraphBatch
from graflo_spark.manifest import CoreSchema, Edge, Field, FieldType, Vertex
from graflo_spark.store import GraphStore


def _schema() -> CoreSchema:
    return CoreSchema(
        vertices=[
            Vertex("doc", [Field("id", FieldType.INT), Field("v"), Field("w")],
                   identity=["id"]),
            Vertex("tag", [Field("t")], identity=["t"]),
        ],
        edges=[Edge("doc", "doc", relation="link")],
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, w string")


def _tags(spark, tags):
    return spark.createDataFrame([(t,) for t in tags], "t string")


def _links(spark, pairs):
    return spark.createDataFrame(pairs, "_src_id long, _dst_id long")


def _store(spark, tmp_path) -> GraphStore:
    st = GraphStore(spark, str(tmp_path / "g"), _schema(), n_buckets=2)
    st.apply_target_schema()
    return st


def _snapshot(st: GraphStore) -> dict:
    view = st.as_view_at()
    return {
        "doc": sorted(map(tuple, view.vertices["doc"]
                          .select("id", "v", "w").collect())),
        "tag": sorted(r["t"] for r in view.vertices["tag"].collect()),
        "link": sorted(map(tuple, next(iter(view.edges.values()))
                           .select("_src_id", "_dst_id").collect())),
    }


def _three_tables(spark, lo: int) -> GraphBatch:
    eid = _schema().edges[0].edge_id
    return GraphBatch(
        vertices={"doc": _docs(spark, [(lo, "a", "x"), (lo + 1, "b", "y")]),
                  "tag": _tags(spark, [f"t{lo}"])},
        edges={eid: _links(spark, [(lo, lo + 1)])})


def test_lanes_write_distinct_tables_concurrently(spark, tmp_path, monkeypatch):
    """Both vertex lanes must be in their single-table body at the same
    time: a two-party barrier there passes only if they overlap, and
    times out (BrokenBarrierError) under a serial write."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one worker: the pool bound leaves nothing to overlap")
    st = _store(spark, tmp_path)
    barrier = threading.Barrier(2, timeout=60)
    body = GraphStore._upsert_vertices

    def meeting(self, name, df):
        barrier.wait()
        return body(self, name, df)

    monkeypatch.setattr(GraphStore, "_upsert_vertices", meeting)
    st.write_batch(GraphBatch(vertices={
        "doc": _docs(spark, [(1, "a", "x")]), "tag": _tags(spark, ["t"])}))
    assert st.read_vertices("doc").count() == 1
    assert st.read_vertices("tag").count() == 1
    assert st.graph_versions() == [1]


def test_lane_jobs_run_in_callers_job_group(spark, tmp_path):
    """Lanes inherit the caller's local properties: every job a 3-table
    write launches belongs to the caller's job group (what cancelJobGroup
    and job attribution rely on)."""
    st = _store(spark, tmp_path)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "write-lanes-test"
    sc.setJobGroup(group, "three-table write_batch")
    try:
        st.write_batch(_three_tables(spark, 0))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty()
    grouped = set(tracker.getJobIdsForGroup(group))
    assert len(grouped) >= 3  # at least one job per table
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_lanes_run_with_pinned_threads_off(spark, tmp_path, monkeypatch):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target(session)``
    returns the session itself; lanes must then run unwrapped."""
    import graflo_spark.store as store_mod

    monkeypatch.setattr(store_mod, "inheritable_thread_target",
                        lambda f=None: f)
    st = _store(spark, tmp_path)
    st.write_batch(_three_tables(spark, 0))
    assert st.graph_versions() == [1]
    assert _snapshot(st)["doc"] == [(0, "a", "x"), (1, "b", "y")]


def test_lane_applies_batches_in_order(spark, tmp_path):
    """write_batch(b1, b2) with the same identity in both: b2's non-null
    values win, and b1's value survives where b2 is NULL — on every table,
    with more lanes than pool workers."""
    n = spark.sparkContext.defaultParallelism + 2
    names = [f"doc{i}" for i in range(n)]
    schema = CoreSchema(vertices=[
        Vertex(nm, [Field("id", FieldType.INT), Field("v"), Field("w")],
               identity=["id"]) for nm in names])
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=2)
    st.apply_target_schema()
    b1 = GraphBatch(vertices={
        nm: _docs(spark, [(1, "old", f"keep{i}"), (2, "only", None)])
        for i, nm in enumerate(names)})
    b2 = GraphBatch(vertices={
        nm: _docs(spark, [(1, f"new{i}", None)]) for i, nm in enumerate(names)})
    st.write_batch(b1, b2)
    assert st.graph_versions() == [1]
    view = st.as_view_at()
    for i, nm in enumerate(names):
        assert sorted(map(tuple, view.vertices[nm]
                          .select("id", "v", "w").collect())) == [
            (1, f"new{i}", f"keep{i}"), (2, "only", None)]


def test_failed_lane_publishes_no_graph_version(spark, tmp_path):
    """A lane that raises (a doc frame missing its identity column): the
    error propagates after every lane finished, no graph version is
    published, the committed snapshot is unchanged, and no lane thread
    outlives the call."""
    st = _store(spark, tmp_path)
    st.write_batch(_three_tables(spark, 0))
    versions, before = st.graph_versions(), _snapshot(st)
    threads = threading.active_count()
    eid = _schema().edges[0].edge_id
    bad = GraphBatch(
        vertices={"doc": spark.createDataFrame([("z", "q")], "v string, w string"),
                  "tag": _tags(spark, ["late"])},
        edges={eid: _links(spark, [(5, 6)])})
    with pytest.raises(ValueError, match="missing identity"):
        st.write_batch(bad)
    assert threading.active_count() == threads
    assert st.graph_versions() == versions
    assert _snapshot(st) == before
    # the healthy lanes committed their tables; a retry publishes them
    st.write_batch(GraphBatch(vertices={"doc": _docs(spark, [(5, "c", "z")])}))
    after = _snapshot(st)
    assert "late" in after["tag"] and (5, 6) in after["link"]


def test_write_batch_edge_cases(spark, tmp_path):
    """No batch publishes nothing; dry runs write nothing."""
    st = _store(spark, tmp_path)
    st.write_batch()
    assert st.graph_versions() == []
    st.write_batch(_three_tables(spark, 0), dry=True)
    assert st.graph_versions() == []
    with pytest.raises(FileNotFoundError):
        st.read_vertices("doc")


def test_engine_ingest_publishes_one_graph_version(spark, tables, tmp_path):
    from graflo_spark.engine import GraphEngine, IngestionParams
    from graflo_spark.steps import ResourceConfig, VertexStep

    schema = CoreSchema(
        vertices=[
            Vertex("customer", [Field("c_custkey", FieldType.INT)],
                   identity=["c_custkey"]),
            Vertex("nation", [Field("n_nationkey", FieldType.INT)],
                   identity=["n_nationkey"]),
        ],
        edges=[Edge("customer", "nation", relation="located_in")])
    resources = [
        (ResourceConfig("nation", steps=[VertexStep(name="nation")],
                        infer_edges=False), tables["nation"]),
        (ResourceConfig("customer", steps=[
            VertexStep(name="customer"),
            VertexStep(name="nation", mapping={"n_nationkey": "c_nationkey"},
                       extraction_scope="mapped_only", lookup_only=True)]),
         tables["customer"]),
    ]
    eng = GraphEngine(spark, schema, str(tmp_path / "g"))
    eng.define_and_ingest(resources)
    assert eng.store.graph_versions() == [1]
    eng.ingest(resources)
    assert eng.store.graph_versions() == [1, 2]
    eng.ingest(resources, IngestionParams(resources=[]))
    assert eng.store.graph_versions() == [1, 2]
    view = eng.store.as_view_at()
    assert view.vertices["customer"].count() == tables["customer"].count()
    assert next(iter(view.edges.values())).count() == \
        tables["customer"].count()


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


def test_parallel_lanes_share_the_compile_checkpoint(spark, tmp_path):
    """A descend resource's vertex and edge tables all read the base's
    lazy local checkpoint, now from parallel lanes; every team->customer
    edge must still join its own team."""
    from graflo_spark.compiler import compile_resource
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
    st = GraphStore(spark, str(tmp_path / "g"), schema)
    st.apply_target_schema()
    st.write_batch(compile_resource(schema, res, _team_docs(spark, 30)))
    view = st.as_view_at()
    assert view.vertices["team"].count() == 30
    assert view.vertices["customer"].count() == 120
    (edges,) = view.edges.values()
    rows = edges.select("_src_team_id", "_dst_c_id").collect()
    assert len(rows) == 120
    assert sum(c // 10 != t for t, c in rows) == 0
