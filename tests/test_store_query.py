"""GraphStore upsert semantics + query surface over stored tables."""

import tempfile

import pytest
from pyspark.sql import functions as F

from graflo_spark.catalog import build_star_graph, star_schema
from graflo_spark.manifest import EdgeId
from graflo_spark.query import AggFn, QueryCaps
from graflo_spark.store import GraphStore


def test_star_cache_session_isolation_and_id_reuse(spark, sf_dir):
    """Two sessions must not share star-graph cache entries, a recycled
    id(spark) must not serve a dead session's plans, and the LRU cap must
    bound the cache."""
    import weakref

    from graflo_spark.catalog import _SessionPlanCache

    cache = _SessionPlanCache(max_sessions=2)
    a = spark.newSession()
    b = spark.newSession()
    da = cache.per_session(a)
    da["x"] = "plan-for-a"
    assert cache.per_session(b) == {}          # isolated
    assert cache.per_session(a) is da          # memoized

    # simulate id reuse after GC: swap a's entry for a dead weakref at the
    # same key (what a recycled address looks like), then access with a
    class _Dummy:
        pass

    tmp = _Dummy()
    dead = weakref.ref(tmp)
    del tmp
    assert dead() is None
    cache._entries[id(a)] = (dead, {"x": "stale-dead-session-plan"})
    assert cache.per_session(a) == {}          # stale entry NOT served

    # LRU cap: a third session evicts the oldest, cache stays bounded
    c = spark.newSession()
    cache.per_session(c)
    assert len(cache._entries) <= 2


def test_traverse_merges_same_type_seeds_into_one_bfs(spark):
    """k seeds of one vertex type must cost ONE multi-source BFS (OR-merged
    frontier), not k traversals — and the result must equal the per-seed
    union at min hop."""
    from graflo_spark.manifest import CoreSchema, Edge, EdgeId, Field, Vertex
    from graflo_spark.query import Direction, GraphView

    schema = CoreSchema(
        vertices=[Vertex("n", [Field("id")], identity=["id"])],
        edges=[Edge("n", "n", relation="to")],
    )
    verts = spark.createDataFrame([(i,) for i in range(7)], "id long")
    # chain 0->1->2->3, plus 5->6; seeds 0, 2, 5
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "_src_id long, _dst_id long")
    view = GraphView(
        vertices={"n": verts},
        edges={EdgeId("n", "n", "to"): edges},
        schema=schema,
    )

    calls = []
    orig = GraphView._bfs

    def spy(self, initial, *a, **kw):
        calls.append({t: df.count() for t, df in initial.items()})
        return orig(self, initial, *a, **kw)

    GraphView._bfs = spy
    try:
        out = view.traverse(
            [("n", {"field": "id", "op": "==", "value": s}) for s in (0, 2, 5)],
            hops=1, direction=Direction.OUT)
        got = {r["node_key"]: r["hop"] for r in out.collect()}
    finally:
        GraphView._bfs = orig

    # one BFS, one merged 3-seed frontier in the primary identity space
    assert calls == [{("n", ""): 3}]
    # min-hop semantics: node 1 is hop 1 from seed 0; node 3 hop 1 from
    # seed 2; seeds themselves hop 0 even when reachable from another seed
    assert got == {"n\x1f0": 0, "n\x1f2": 0, "n\x1f5": 0,
                   "n\x1f1": 1, "n\x1f3": 1, "n\x1f6": 1}


def test_graphview_connected_components(spark):
    """CC over the typed graph surface: cross-type components labeled by the
    lexicographically-minimal node_key, isolated vertices as singletons,
    relation filter narrows the edge set."""
    from graflo_spark.manifest import CoreSchema, Edge, EdgeId, Field, Vertex
    from graflo_spark.query import GraphView

    schema = CoreSchema(
        vertices=[Vertex("a", [Field("id")], identity=["id"]),
                  Vertex("b", [Field("id")], identity=["id"])],
        edges=[Edge("a", "b", relation="r1"), Edge("a", "a", relation="r2")],
    )
    va = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    vb = spark.createDataFrame([(1,), (9,)], "id long")
    e_ab = spark.createDataFrame([(1, 1)], "_src_id long, _dst_id long")
    e_aa = spark.createDataFrame([(2, 3)], "_src_id long, _dst_id long")
    view = GraphView(
        vertices={"a": va, "b": vb},
        edges={EdgeId("a", "b", "r1"): e_ab, EdgeId("a", "a", "r2"): e_aa},
        schema=schema,
    )
    got = {r["node_key"]: r["component"]
           for r in view.connected_components().collect()}
    assert got["a\x011".replace("\x01", "\x1f")] == got["b\x011".replace("\x01", "\x1f")]
    assert got["a\x1f2"] == got["a\x1f3"]
    assert got["b\x1f9"] == "b\x1f9"  # isolated singleton
    assert len(got) == 5
    # component label is the lexicographic min of member keys
    assert got["a\x1f1"] == min("a\x1f1", "b\x1f1")
    # relation filter: only r2 edges -> a1/b1 become singletons
    only_r2 = {r["node_key"]: r["component"]
               for r in view.connected_components(relations=["r2"]).collect()}
    assert only_r2["a\x1f1"] == "a\x1f1" and only_r2["b\x1f1"] == "b\x1f1"
    assert only_r2["a\x1f2"] == only_r2["a\x1f3"]


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    schema = star_schema()
    root = tempfile.mkdtemp(prefix="graflo_store_")
    st = GraphStore(spark, root, schema)
    st.apply_target_schema()
    batch = build_star_graph(spark, sf_dir)
    st.write_batch(batch)
    return st


def test_upsert_idempotent(spark, sf_dir, store):
    """Reloading the same batch must not change counts (reference
    reload-merges-on-keys property, db/conn.py:390-404)."""
    n0 = store.read_vertices("customer").count()
    e0 = store.read_edges(EdgeId("order", "customer", "placed_by")).count()
    batch = build_star_graph(spark, sf_dir)
    store.write_batch(batch)
    assert store.read_vertices("customer").count() == n0
    assert store.read_edges(EdgeId("order", "customer", "placed_by")).count() == e0


def test_upsert_updates_fields(spark, store):
    cust = store.read_vertices("customer")
    one = cust.limit(1).collect()[0]
    patch = spark.createDataFrame(
        [(one["c_custkey"], "PATCHED")], "c_custkey long, c_name string"
    ).withColumn("c_custkey", F.col("c_custkey").cast("long"))
    store.upsert_vertices("customer", patch)
    got = (
        store.read_vertices("customer")
        .filter(F.col("c_custkey") == one["c_custkey"])
        .collect()[0]
    )
    assert got["c_name"] == "PATCHED"
    # non-null existing values survive a partial-row upsert
    assert got["c_acctbal"] == one["c_acctbal"]


def test_query_caps():
    caps = QueryCaps(max_rows=10, max_hops=2, max_seeds=2)
    assert caps.clamp_rows(None, explicit=False) == 10
    with pytest.raises(ValueError):
        caps.clamp_rows(100, explicit=True)
    with pytest.raises(ValueError):
        caps.check_hops(3)
    with pytest.raises(ValueError):
        caps.check_seeds(5)


def test_view_roundtrip_aggregate(store, duck):
    view = store.as_view()
    got = {
        r["c_mktsegment"]: r["agg_value"]
        for r in view.aggregate("customer", AggFn.COUNT, discriminant="c_mktsegment").collect()
    }
    want = dict(duck.execute(
        "SELECT c_mktsegment, COUNT(*) FROM customer GROUP BY 1").fetchall())
    assert got == want


def test_resolve_error_policy(spark):
    """policy='error' must raise on a genuinely ambiguous secondary match.
    Ambiguity is constructed inline (two suppliers sharing a nationkey) so
    the test never depends on what a given scale factor happens to contain."""
    from graflo_spark.resolve import resolve_endpoints

    nation = spark.createDataFrame(
        [(1, 1), (2, 2)], "_src_n_nationkey long, _dst_s_nationkey long")
    supplier = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "s_suppkey long, s_nationkey long")
    with pytest.raises(ValueError, match="ambiguous"):
        resolve_endpoints(nation, supplier, ["s_nationkey"], ["s_suppkey"],
                          side="dst", policy="error")


def test_store_dry_run_writes_nothing(spark, tables, tmp_path, capsys):
    from graflo_spark.manifest import CoreSchema, Field, Vertex
    from graflo_spark.store import GraphStore

    schema = CoreSchema(vertices=[
        Vertex("customer", [Field("c_custkey")], identity=["c_custkey"])])
    store = GraphStore(spark, str(tmp_path / "g"), schema)
    store.apply_target_schema()
    store.upsert_vertices("customer", tables["customer"].select("c_custkey"),
                          dry=True)
    # dry mode explains the plan instead of writing a snapshot
    assert "Physical Plan" in capsys.readouterr().out
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        store.read_vertices("customer")


def test_incremental_upsert_rewrites_only_touched_buckets(spark, tables, tmp_path):
    """A small upsert must leave every bucket it does not touch byte-identical
    on disk — the property that makes upserts O(batch), not O(table)."""
    import hashlib
    import os

    from graflo_spark.manifest import CoreSchema, Field, Vertex
    from graflo_spark.store import BUCKET_COL

    schema = CoreSchema(
        vertices=[Vertex("customer", [Field("c_custkey"), Field("c_name")],
                         identity=["c_custkey"])],
        edges=[],
    )
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=16)
    st.apply_target_schema()
    st.upsert_vertices("customer", tables["customer"].select("c_custkey", "c_name"))

    def bucket_digests(store, tdir):
        # digest each bucket's files via the CURRENT manifest: the pair
        # (relative dir, bytes) proves untouched buckets are not merely
        # equal but the very same files, never rewritten
        _v, manifest = store._current_manifest(tdir)
        out = {}
        for b, rel in manifest.items():
            d = os.path.join(tdir, rel)
            h = hashlib.sha256()
            for fn in sorted(f for f in os.listdir(d) if f.endswith(".parquet")):
                with open(os.path.join(d, fn), "rb") as fh:
                    h.update(fn.encode())
                    h.update(fh.read())
            out[b] = (rel, h.hexdigest())
        return out

    table_dir = st._table_dir("vertices", "customer")
    before = bucket_digests(st, table_dir)
    assert len(before) > 4  # the table actually spans buckets

    patch = spark.createDataFrame([(1, "PATCHED")], "c_custkey long, c_name string")
    st.upsert_vertices("customer", patch)
    after = bucket_digests(st, table_dir)

    touched = {b for b in before if before[b] != after.get(b)}
    assert len(touched) == 1  # one row -> one bucket rewritten
    untouched_same = [b for b in before if b not in touched and before[b] == after[b]]
    assert len(untouched_same) == len(before) - 1

    # and the merge semantics held
    got = {r["c_custkey"]: r["c_name"] for r in st.read_vertices("customer").collect()}
    assert got[1] == "PATCHED"
    assert st.read_vertices("customer").count() == tables["customer"].count()


def test_reference_digest_parity_frozen_vectors(spark):
    """Byte parity with the reference digest algorithm
    (identity_digest.py:33-48) on tricky values; hex digests FROZEN from
    the reference algorithm -- drift in spacing, escaping, or type
    rendering fails loudly."""
    import datetime

    from graflo_spark.identity import (
        reference_digest, reference_digest_expr, reference_funnel_identity,
    )

    vectors = [
        ({"a": 1, "b": "x"}, ["a", "b"],
         "ce5c626fb40307427cf323b5c307a3ea230856fa4bad676eaaa2577b5a857a85"),
        ({"a": None, "b": "x"}, ["a", "b"],
         "0df9d48207408c4c1edfd438b7f753a4b28c0aba2e06ff2f76cd02adb3d43a5f"),
        # ensure_ascii: non-ASCII must escape to \uXXXX inside the payload
        ({"name": "café ☕", "n": 42}, ["name", "n"],
         "f4770084c312af29c3064f8a6c07f5ad14771a6354220637ac8e44a0cb6ef138"),
        # default=str renders dates/datetimes
        ({"d": datetime.date(2024, 1, 2),
          "ts": datetime.datetime(2024, 1, 2, 3, 4, 5)}, ["d", "ts"],
         "418928609c8433677a927e3912d206a7fca7a1eae8f3dfb8a7e9d38fc33a6c25"),
        ({"f": 1.5, "t": True}, ["f", "t"],
         "e63d27b22e47e2044ffa38b293532b052214b269e511b8a4c68be5ae61d20467"),
        ({"s": 'quote"back\\slash'}, ["s"],
         "c64c6cd27fdf59eef968c1813c8ee503e10407f141dd060ac5293bf15dd0f197"),
        ({"missing": None}, ["missing", "absent"],
         "aaec1d32707308984cb0e05b1173906cef1625ad32a3d75f2e61e9bb95c78628"),
    ]
    for doc, fields, expect in vectors:
        assert reference_digest(doc, fields) == expect, (doc, fields)

    # the Arrow-batched Column agrees on a frame of mixed types
    df = spark.createDataFrame(
        [(1, "x"), (None, "x"), (42, "café ☕")], "a long, b string")
    got = [r[0] for r in df.select(
        reference_digest_expr(["a", "b"])).collect()]
    assert got[0] == vectors[0][2]
    assert got[1] == vectors[1][2]
    # int survives Arrow as unquoted JSON int even in a nullable column
    assert got[2] == reference_digest({"a": 42, "b": "café ☕"}, ["a", "b"])

    # funnel: empty string counts as empty; branch id marker matches
    assert reference_funnel_identity(
        {"email": "", "phone": "1", "cc": "US"},
        [["email"], ["phone", "cc"]],
    ) == reference_digest({"phone": "1", "cc": "US"}, ["phone", "cc"])
    assert reference_funnel_identity({"email": ""}, [["email"]]) is None
    import hashlib, json
    withid = reference_funnel_identity(
        {"email": "e@x"}, [["email"]], branch_ids=["email"],
        include_branch_id=True)
    payload = {"email": "e@x", "_branch": "email"}
    assert withid == hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()).hexdigest()


def test_graphview_pagerank_and_triangles(spark):
    """PageRank and triangle counting over the typed graph surface: every
    vertex gets a rank (isolated -> teleport floor), a directed 3-cycle's
    symmetric ranks are exactly 1.0, and the undirected view of the cycle
    is one triangle credited to all three corners."""
    from graflo_spark.manifest import CoreSchema, Edge, EdgeId, Field, Vertex
    from graflo_spark.query import GraphView

    schema = CoreSchema(
        vertices=[Vertex("a", [Field("id")], identity=["id"])],
        edges=[Edge("a", "a", relation="r")],
    )
    va = spark.createDataFrame([(1,), (2,), (3,), (9,)], "id long")
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "_src_id long, _dst_id long")
    view = GraphView(
        vertices={"a": va}, edges={EdgeId("a", "a", "r"): cyc}, schema=schema)

    pr = {r["node_key"]: r["rank"] for r in view.pagerank(tol=1e-10).collect()}
    assert len(pr) == 4
    for k in ("a\x1f1", "a\x1f2", "a\x1f3"):
        assert abs(pr[k] - 1.0) < 1e-9          # symmetric cycle
    assert pr["a\x1f9"] == 0.15000000000000002 or abs(pr["a\x1f9"] - 0.15) < 1e-12

    assert view.triangle_count().first()["n_triangles"] == 1
    per = {r["node_key"]: r["n_triangles"]
           for r in view.triangle_count(per_node=True).collect()}
    assert per == {"a\x1f1": 1, "a\x1f2": 1, "a\x1f3": 1, "a\x1f9": 0}


def test_concurrent_upserts_serialize_and_readers_never_torn(spark, tmp_path):
    """The optimistic commit protocol: two threads upserting concurrently
    (disjoint id ranges -> mostly disjoint buckets) must both land — the
    loser retries against the winner's manifest — and a concurrent reader
    only ever observes a fully committed version (500 or 1000 rows),
    never a torn multi-bucket interleave."""
    import threading

    from graflo_spark.manifest import CoreSchema, Field, Vertex

    schema = CoreSchema(
        vertices=[Vertex("doc", [Field("id"), Field("v")], identity=["id"])],
        edges=[],
    )
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=16)
    st.apply_target_schema()
    a = spark.range(0, 500).select(F.col("id"), F.lit("a").alias("v"))
    b = spark.range(500, 1000).select(F.col("id"), F.lit("b").alias("v"))

    seen, errors = [], []

    def write(df):
        try:
            st.upsert_vertices("doc", df)
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    def read_loop(stop):
        while not stop.is_set():
            try:
                seen.append(st.read_vertices("doc").count())
            except FileNotFoundError:
                seen.append(0)

    stop = threading.Event()
    rt = threading.Thread(target=read_loop, args=(stop,))
    t1, t2 = threading.Thread(target=write, args=(a,)), threading.Thread(
        target=write, args=(b,))
    rt.start(); t1.start(); t2.start()
    t1.join(); t2.join()
    stop.set(); rt.join()
    assert not errors
    got = {r["id"]: r["v"] for r in st.read_vertices("doc").collect()}
    assert len(got) == 1000  # neither batch lost
    assert all(got[i] == "a" for i in range(0, 500))
    assert all(got[i] == "b" for i in range(500, 1000))
    assert set(seen) <= {0, 500, 1000}, sorted(set(seen))  # never torn


def test_concurrent_overlapping_upserts_keep_both_fields(spark, tmp_path):
    """Overlapping-bucket contention: two writers patch the SAME ids with
    different fields. Serialization means the second merge runs against
    the first's committed rows — both fields survive on every id (a torn
    or lost update would null one out)."""
    import threading

    from graflo_spark.manifest import CoreSchema, Field, Vertex

    schema = CoreSchema(
        vertices=[Vertex("doc", [Field("id"), Field("f1"), Field("f2")],
                         identity=["id"])],
        edges=[],
    )
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=8)
    st.apply_target_schema()
    base = spark.range(0, 200).select(
        F.col("id"), F.lit(None).cast("string").alias("f1"),
        F.lit(None).cast("string").alias("f2"))
    st.upsert_vertices("doc", base)
    c = spark.range(0, 200).select(F.col("id"), F.lit("C").alias("f1"))
    d = spark.range(0, 200).select(F.col("id"), F.lit("D").alias("f2"))
    errors = []

    def write(df):
        try:
            st.upsert_vertices("doc", df)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t1, t2 = threading.Thread(target=write, args=(c,)), threading.Thread(
        target=write, args=(d,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    rows = st.read_vertices("doc").collect()
    assert len(rows) == 200
    assert all(r["f1"] == "C" and r["f2"] == "D" for r in rows)


def test_legacy_bucket_layout_upgrades_in_place(spark, tmp_path):
    """A store written by the pre-manifest layout (mutable buckets/__b=N +
    _SUCCESS) upgrades on first upsert: untouched legacy bucket dirs are
    referenced by the new manifest IN PLACE (no table rewrite), touched
    ones move to immutable commit dirs, and merge semantics hold."""
    import json
    import os

    from graflo_spark.manifest import CoreSchema, Field, Vertex
    from graflo_spark.store import BUCKET_COL

    schema = CoreSchema(
        vertices=[Vertex("doc", [Field("id"), Field("v")], identity=["id"])],
        edges=[],
    )
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=8)
    st.apply_target_schema()
    tdir = st._table_dir("vertices", "doc")
    bdir = st._buckets_dir(tdir)
    df = spark.range(0, 100).select(F.col("id"), F.lit("old").alias("v"))
    (df.withColumn(BUCKET_COL, st._bucket_expr(["id"], 8))
       .write.partitionBy(BUCKET_COL).parquet(bdir))
    open(os.path.join(bdir, "_SUCCESS"), "w").close()
    with open(os.path.join(tdir, "_meta.json"), "w") as f:
        json.dump({"n_buckets": 8}, f)

    patch = spark.createDataFrame([(1, "NEW"), (1000, "NEW")],
                                  "id long, v string")
    st.upsert_vertices("doc", patch)
    got = {r["id"]: r["v"] for r in st.read_vertices("doc").collect()}
    assert len(got) == 101 and got[1] == "NEW" and got[1000] == "NEW"
    assert got[2] == "old"
    _v, manifest = st._current_manifest(tdir)
    assert any(rel.startswith("buckets") for rel in manifest.values())
    assert any(rel.startswith("data") for rel in manifest.values())


def test_compact_time_travel_and_expiration(spark, tmp_path):
    """Table-format maintenance surface over the manifest protocol:
    version history reads back exact committed states (time travel),
    compact() rewrites the scattered incremental commits into one
    data dir without changing the current contents, and
    expire_versions() drops history + unreferenced files."""
    import os

    from graflo_spark.manifest import CoreSchema, Field, Vertex

    schema = CoreSchema(
        vertices=[Vertex("doc", [Field("id"), Field("v")], identity=["id"])],
        edges=[],
    )
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=8,
                    snapshot_keep=5)
    st.apply_target_schema()
    st.upsert_vertices("doc", spark.range(0, 100).select(
        F.col("id"), F.lit("a").alias("v")))
    st.upsert_vertices("doc", spark.range(100, 200).select(
        F.col("id"), F.lit("b").alias("v")))
    st.upsert_vertices("doc", spark.createDataFrame(
        [(0, "patched")], "id long, v string"))
    assert st.table_versions("vertices", "doc") == [1, 2, 3]
    # time travel: each version is the exact committed state
    assert st.read_vertices_at("doc", 1).count() == 100
    assert st.read_vertices_at("doc", 2).count() == 200
    v2 = {r["id"]: r["v"] for r in st.read_vertices_at("doc", 2).collect()}
    assert v2[0] == "a"  # pre-patch
    v3 = {r["id"]: r["v"] for r in st.read_vertices_at("doc", 3).collect()}
    assert v3[0] == "patched"

    before = {r["id"]: r["v"] for r in st.read_vertices("doc").collect()}
    st.compact("vertices", "doc")
    after = {r["id"]: r["v"] for r in st.read_vertices("doc").collect()}
    assert after == before  # contents unchanged
    tdir = st._table_dir("vertices", "doc")
    _v, manifest = st._current_manifest(tdir)
    commit_ids = {rel.split(os.sep)[1] for rel in manifest.values()}
    assert len(commit_ids) == 1  # every bucket now lives in ONE commit dir

    st.expire_versions("vertices", "doc", keep=1)
    assert st.table_versions("vertices", "doc") == [4]
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError, match="expired|not committed"):
        st.read_vertices_at("doc", 2)
    # expired data dirs are actually gone
    ddir = st._data_dir(tdir)
    assert set(os.listdir(ddir)) == commit_ids
    # and the table still reads fine
    assert st.read_vertices("doc").count() == 200


def test_graphview_lpa_and_link_prediction(spark):
    """LPA communities and link-prediction scores over the typed graph
    surface: two cliques resolve to min-key labels (isolated vertices are
    singletons), and the bridge endpoints' shared-neighbor pairs score."""
    from graflo_spark.manifest import CoreSchema, Edge, EdgeId, Field, Vertex
    from graflo_spark.query import GraphView

    schema = CoreSchema(
        vertices=[Vertex("a", [Field("id")], identity=["id"])],
        edges=[Edge("a", "a", relation="r")],
    )
    va = spark.createDataFrame([(1,), (2,), (3,), (4,), (5,), (6,), (9,)],
                               "id long")
    # triangle {1,2,3} and triangle {4,5,6}; 9 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)],
        "_src_id long, _dst_id long")
    view = GraphView(
        vertices={"a": va}, edges={EdgeId("a", "a", "r"): edges},
        schema=schema)
    lp = {r["node_key"]: r["label"]
          for r in view.label_propagation(max_iter=4).collect()}
    assert lp["a\x1f1"] == lp["a\x1f2"] == lp["a\x1f3"] == "a\x1f1"
    assert lp["a\x1f4"] == lp["a\x1f5"] == lp["a\x1f6"] == "a\x1f4"
    assert lp["a\x1f9"] == "a\x1f9"  # isolated singleton

    scores = {(r["key_a"], r["key_b"]): r["common"]
              for r in view.link_prediction(
                  min_common=1, exclude_existing=False).collect()}
    assert scores[("a\x1f1", "a\x1f2")] == 1  # shared neighbor 3


def test_compact_edge_table(spark, tmp_path):
    """compact() on an EDGE table re-buckets on the _src_/_dst_ key
    convention and preserves contents."""
    from graflo_spark.manifest import CoreSchema, Edge, EdgeId, Field, Vertex

    schema = CoreSchema(
        vertices=[Vertex("n", [Field("id")], identity=["id"])],
        edges=[Edge("n", "n", relation="to")],
    )
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=8)
    st.apply_target_schema()
    eid = EdgeId("n", "n", "to")
    st.insert_edges(eid, spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "_src_id long, _dst_id long"))
    st.insert_edges(eid, spark.createDataFrame(
        [(i, i + 1) for i in range(40, 90)], "_src_id long, _dst_id long"))
    before = {(r["_src_id"], r["_dst_id"]) for r in st.read_edges(eid).collect()}
    assert len(before) == 90  # dedup across the two inserts
    st.compact("edges", eid.table_name())
    after = {(r["_src_id"], r["_dst_id"]) for r in st.read_edges(eid).collect()}
    assert after == before
    import os
    tdir = st._table_dir("edges", eid.table_name())
    _v, manifest = st._current_manifest(tdir)
    assert len({rel.split(os.sep)[1] for rel in manifest.values()}) == 1


def test_compact_edge_table_with_identities(spark, tmp_path):
    """Edge tables whose Edge declares `identities` bucket on key prefix
    PLUS identity columns (store.insert_edges); compact() must re-bucket
    with the SAME column set, or post-compaction upserts prune their
    existing-row read to the wrong buckets and commit duplicate keys."""
    from graflo_spark.manifest import CoreSchema, Edge, EdgeId, Field, Vertex

    schema = CoreSchema(
        vertices=[Vertex("n", [Field("id")], identity=["id"])],
        edges=[Edge("n", "n", relation="to", identities=["tag"])],
    )
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=8)
    st.apply_target_schema()
    eid = EdgeId("n", "n", "to")
    st.insert_edges(eid, spark.createDataFrame(
        [(i, i + 1, f"t{i % 7}", "old") for i in range(60)],
        "_src_id long, _dst_id long, tag string, payload string"),
        on_duplicate="upsert")
    st.compact("edges", eid.table_name())
    # the SAME keys again: upsert must merge, not double up
    st.insert_edges(eid, spark.createDataFrame(
        [(i, i + 1, f"t{i % 7}", "new") for i in range(60)],
        "_src_id long, _dst_id long, tag string, payload string"),
        on_duplicate="upsert")
    rows = st.read_edges(eid).collect()
    keys = [(r["_src_id"], r["_dst_id"], r["tag"]) for r in rows]
    assert len(keys) == len(set(keys)) == 60  # no duplicate edge keys
    assert {r["payload"] for r in rows} == {"new"}  # upsert won


def test_gc_grace_spares_recent_unreferenced_data(spark, tmp_path):
    """Post-commit GC must not yank data dirs out from under a reader
    pinned to a just-expired version: unreferenced dirs younger than
    gc_grace_seconds survive commit-path GC; expire_versions() (explicit
    admin action) bypasses the grace."""
    import os

    from graflo_spark.manifest import CoreSchema, Field, Vertex

    schema = CoreSchema(
        vertices=[Vertex("doc", [Field("id"), Field("v")], identity=["id"])],
        edges=[],
    )
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=4,
                    snapshot_keep=1)
    st.apply_target_schema()
    tdir = st._table_dir("vertices", "doc")
    st.upsert_vertices("doc", spark.range(0, 50).select(
        F.col("id"), F.lit("a").alias("v")))
    # pin a reader to v1 (plan holds the file list lazily)
    pinned = st.read_vertices_at("doc", 1)
    st.upsert_vertices("doc", spark.range(50, 100).select(
        F.col("id"), F.lit("b").alias("v")))
    st.upsert_vertices("doc", spark.createDataFrame(
        [(0, "patched")], "id long, v string"))
    # manifests beyond keep expired, but v1's data files still scannable
    assert pinned.count() == 50
    ddir = st._data_dir(tdir)
    assert len(os.listdir(ddir)) >= 2  # old commit dirs survived the grace
    st.expire_versions("vertices", "doc", keep=1)
    _v, manifest = st._current_manifest(tdir)
    referenced = {rel.split(os.sep)[1] for rel in manifest.values()
                  if rel.split(os.sep)[0] == "data"}
    assert set(os.listdir(ddir)) == referenced  # grace bypassed


def _doc_link_schema():
    from graflo_spark.manifest import CoreSchema, Edge, Field, Vertex

    return CoreSchema(
        vertices=[Vertex("doc", [Field("id"), Field("v")], identity=["id"])],
        edges=[Edge("doc", "doc", relation="link")],
    )


def _link_df(spark, pairs):
    return spark.createDataFrame(pairs, "_src_id long, _dst_id long")


def test_graph_commit_atomic_cross_table_snapshot(spark, tmp_path):
    """The root manifest: write_batch publishes ONE graph version spanning
    every table it touched, so a reader going through as_view_at sees old
    graph or new graph — never new vertices with old edges — while
    per-table reads keep their parity semantics (newest committed table
    version, immediately)."""
    from graflo_spark.container import GraphBatch
    from graflo_spark.manifest import EdgeId

    schema = _doc_link_schema()
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=4)
    st.apply_target_schema()
    eid = schema.edges[0].edge_id

    v1 = spark.createDataFrame([(i, "x") for i in range(4)], "id long, v string")
    st.write_batch(GraphBatch(vertices={"doc": v1},
                              edges={eid: _link_df(spark, [(0, 1), (1, 2)])}))
    assert st.graph_versions() == [1]
    view1 = st.as_view_at()
    assert view1.vertices["doc"].count() == 4
    assert view1.edges[eid].count() == 2

    # a per-table write WITHOUT a graph commit: table readers see it at
    # once, the graph snapshot does not
    st.upsert_vertices("doc", spark.createDataFrame(
        [(9, "y")], "id long, v string"))
    assert st.read_vertices("doc").count() == 5      # parity read: newest
    mid = st.as_view_at()                            # still graph v1
    assert mid.vertices["doc"].count() == 4
    assert mid.edges[eid].count() == 2

    # completing the "batch" and committing flips the snapshot atomically
    st.insert_edges(eid, _link_df(spark, [(2, 9)]))
    g2 = st.commit_graph()
    assert g2 == 2
    view2 = st.as_view_at()
    assert view2.vertices["doc"].count() == 5
    assert view2.edges[eid].count() == 3
    # graph time travel: version 1 still reads the old pair of tables
    old = st.as_view_at(1)
    assert old.vertices["doc"].count() == 4
    assert old.edges[eid].count() == 2
    assert st.read_vertices_at_graph("doc", 1).count() == 4
    assert st.read_edges_at_graph(eid, 2).count() == 3


def test_graph_commit_two_table_ingest_race(spark, tmp_path):
    """A reader polling as_view_at during a two-table ingest must only
    ever observe consistent (vertices, edges) pairs: (4, 2) before the
    second write_batch's graph commit, (8, 5) after — never 8 vertices
    with 2 edges even though the vertex table commits seconds before the
    edge table."""
    import threading

    from graflo_spark.container import GraphBatch
    from graflo_spark.manifest import EdgeId

    schema = _doc_link_schema()
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=4)
    st.apply_target_schema()
    eid = schema.edges[0].edge_id

    st.write_batch(GraphBatch(
        vertices={"doc": spark.createDataFrame(
            [(i, "x") for i in range(4)], "id long, v string")},
        edges={eid: _link_df(spark, [(0, 1), (1, 2)])}))

    observed, errors = [], []
    stop = threading.Event()

    def read_loop():
        while not stop.is_set():
            try:
                view = st.as_view_at()
                observed.append((view.vertices["doc"].count(),
                                 view.edges[eid].count()))
            except Exception as e:  # pragma: no cover
                errors.append(e)

    rt = threading.Thread(target=read_loop)
    rt.start()
    try:
        st.write_batch(GraphBatch(
            vertices={"doc": spark.createDataFrame(
                [(i, "y") for i in range(4, 8)], "id long, v string")},
            edges={eid: _link_df(spark, [(2, 4), (4, 5), (5, 6)])}))
    finally:
        stop.set()
        rt.join()
    assert not errors
    assert set(observed) <= {(4, 2), (8, 5)}, sorted(set(observed))


def test_concurrent_write_batch_linearization(spark, tmp_path):
    """Two write_batch writers racing on DIFFERENT rows of the same graph:
    pins the documented contract (write_batch docstring) — every published
    graph version is a consistent snapshot of committed table versions,
    pinned table versions never decrease across graph versions, and the
    final version contains BOTH batches in full. (A mid-race version MAY
    mix the two batches' tables; that mix is exactly what the contract
    permits, so the test asserts monotonicity + completeness, not
    batch-boundary atomicity.)"""
    import threading

    from graflo_spark.container import GraphBatch

    schema = _doc_link_schema()
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=4,
                    snapshot_keep=100)
    st.apply_target_schema()
    eid = schema.edges[0].edge_id

    def writer(lo: int, pairs):
        st.write_batch(GraphBatch(
            vertices={"doc": spark.createDataFrame(
                [(i, f"w{lo}") for i in range(lo, lo + 6)],
                "id long, v string")},
            edges={eid: _link_df(spark, pairs)}))

    errors = []

    def run(lo, pairs):
        try:
            writer(lo, pairs)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t1 = threading.Thread(target=run, args=(0, [(0, 1), (1, 2)]))
    t2 = threading.Thread(target=run, args=(100, [(100, 101)]))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors

    versions = st.graph_versions()
    assert versions
    # monotone pins: for consecutive graph versions, every shared table's
    # pinned version only grows
    prev: dict[str, int] = {}
    for gv in versions:
        tables = st._graph_manifest(gv)
        for key, v in tables.items():
            assert v >= prev.get(key, 0), (gv, key, v, prev)
        prev.update(tables)
        # every pinned snapshot is readable (consistent — no dangling data)
        view = st.as_view_at(gv)
        view.vertices["doc"].count()
    # completeness: the final version holds both writers' whole batches
    final = st.as_view_at(versions[-1])
    ids = {r["id"] for r in final.vertices["doc"].select("id").collect()}
    assert set(range(0, 6)) <= ids and set(range(100, 106)) <= ids
    assert final.edges[eid].count() == 3


def test_graph_pinned_versions_survive_table_gc(spark, tmp_path):
    """Table-level retention must not expire per-table versions an
    unexpired graph manifest still pins: after many per-table commits
    (far beyond snapshot_keep), every kept graph version's snapshot is
    still readable."""
    from graflo_spark.container import GraphBatch
    from graflo_spark.manifest import EdgeId

    schema = _doc_link_schema()
    st = GraphStore(spark, str(tmp_path / "g"), schema, n_buckets=4,
                    snapshot_keep=2, gc_grace_seconds=0.0)
    st.apply_target_schema()
    eid = schema.edges[0].edge_id

    st.write_batch(GraphBatch(
        vertices={"doc": spark.createDataFrame(
            [(i, "x") for i in range(3)], "id long, v string")},
        edges={eid: _link_df(spark, [(0, 1)])}))
    g_first = st.graph_versions()[-1]
    # 5 vertex-only commits: the vertex table's own retention (2) would
    # expire the graph-pinned version without the pin protection
    for j in range(5):
        st.upsert_vertices("doc", spark.createDataFrame(
            [(10 + j, "p")], "id long, v string"))
    st.commit_graph()
    for gv in st.graph_versions():
        view = st.as_view_at(gv)
        assert view.vertices["doc"].count() >= 3
        assert view.edges[eid].count() == 1
    # the first graph version was expired by graph retention (keep=2)...
    kept = st.graph_versions()
    assert len(kept) <= 2
    if g_first not in kept:
        with pytest.raises(FileNotFoundError):
            st.as_view_at(g_first)


def test_single_space_funnel_compiles_to_plain_concat_plan(spark):
    """The 100 TB guard for the r14 identity funnel: a graph with NO
    declared secondary identities — every graph the ingest pipeline
    builds — must compile node keys to the plain concat_ws expression
    with no per-row CASE WHEN fallback chain and no per-space adjacency
    fan-out: the exact pre-funnel plan, keeping WholeStageCodegen spans
    and the per-type single-pass edge scans identical."""
    from graflo_spark.manifest import CoreSchema, Edge, Field, Vertex
    from graflo_spark.query import Direction, GraphView

    schema = CoreSchema(
        vertices=[Vertex("n", [Field("id")], identity=["id"])],
        edges=[Edge("n", "n", relation="to")],
    )
    view = GraphView(
        vertices={"n": spark.createDataFrame([(i,) for i in range(4)],
                                             "id long")},
        edges={EdgeId("n", "n", "to"): spark.createDataFrame(
            [(0, 1), (1, 2)], "_src_id long, _dst_id long")},
        schema=schema,
    )
    el = view.typed_edge_list(direction=Direction.OUT)
    plan = el._jdf.queryExecution().analyzed().toString()
    assert "CASE WHEN" not in plan and "concat_ws" in plan
    # adjacency: exactly one entry per orientation, primary space only
    adj = view._adjacency(None, Direction.OUT)
    assert [(e.src, e.dst) for e in adj] == [(("n", ""), ("n", ""))]
    # and the secondary-space machinery kicks in ONLY when both the
    # schema declares a space and the edge table carries its columns
    schema.vertex("n").secondary_identities["alt"] = ["id"]
    adj2 = view._adjacency(None, Direction.OUT)   # no _src_alt columns
    assert [(e.src, e.dst) for e in adj2] == [(("n", ""), ("n", ""))]


# --------------------------------------------------- typed BFS: small graphs

def _local_frame(spark, rows, ddl):
    """An in-memory frame planned as a LocalRelation: scanning it starts
    no Python worker, unlike ``createDataFrame`` over a list."""
    import pandas as pd
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    pdf = pd.DataFrame(rows, columns=schema.names).astype("Int64")
    return spark.createDataFrame(pdf, schema)


def _typed_view(spark, persons, knows, friend, works, uses, sites):
    """GraphView over persons ``p`` (``knows`` directed, ``friend``
    undirected), companies ``c`` keyed by two fields ``(cc, cn)`` and
    MULTI-SPACE sites ``s`` (primary ``sid``, secondary ``alt``): a site
    row or a ``uses`` endpoint may carry only ``alt``."""
    from graflo_spark.manifest import CoreSchema, Edge, Field, Vertex
    from graflo_spark.query import GraphView

    schema = CoreSchema(
        vertices=[
            Vertex("p", [Field("id")], identity=["id"]),
            Vertex("c", [Field("cc"), Field("cn")], identity=["cc", "cn"]),
            Vertex("s", [Field("sid"), Field("alt")], identity=["sid"],
                   secondary_identities={"alt": ["alt"]}),
        ],
        edges=[Edge("p", "p", relation="knows"),
               Edge("p", "p", relation="friend", directed=False),
               Edge("p", "c", relation="works_at"),
               Edge("c", "s", relation="uses")],
    )
    companies = sorted({(cc, cn) for _, cc, cn in works}
                       | {(cc, cn) for cc, cn, _, _ in uses})
    return GraphView(
        vertices={
            "p": _local_frame(spark, [(i,) for i in persons], "id long"),
            "c": _local_frame(spark, companies, "cc long, cn long"),
            "s": _local_frame(spark, sites, "sid long, alt long"),
        },
        edges={
            EdgeId("p", "p", "knows"): _local_frame(
                spark, knows, "_src_id long, _dst_id long"),
            EdgeId("p", "p", "friend"): _local_frame(
                spark, friend, "_src_id long, _dst_id long"),
            EdgeId("p", "c", "works_at"): _local_frame(
                spark, works, "_src_id long, _dst_cc long, _dst_cn long"),
            EdgeId("c", "s", "uses"): _local_frame(
                spark, uses, "_src_cc long, _src_cn long, _dst_sid long, "
                             "_dst_alt long"),
        },
        schema=schema,
    )


def _random_typed_graph(seed):
    """Seeded random arguments for :func:`_typed_view`. Persons 100 -> 101
    are an isolated chain; sites 4 and 5 carry only ``alt``; about a third
    of the ``uses`` endpoints whose site has a primary key still address
    it through ``alt``."""
    import random

    rng = random.Random(seed)
    persons = list(range(10)) + [100, 101]
    sites = [(i, 50 + i) for i in range(4)] + [(None, 54), (None, 55)]
    companies = [(k % 2, k) for k in range(4)]
    knows = [tuple(rng.sample(range(10), 2)) for _ in range(8)] + [(100, 101)]
    friend = [tuple(rng.sample(range(10), 2)) for _ in range(3)]
    works = [(rng.randrange(10), *rng.choice(companies)) for _ in range(6)]
    uses = []
    for _ in range(6):
        sid, alt = rng.choice(sites)
        if sid is not None and rng.random() < 0.33:
            sid = None
        uses.append((*rng.choice(companies), sid, alt))
    return dict(persons=persons, knows=knows, friend=friend, works=works,
                uses=uses, sites=sites)


def _reference_bfs(g, seeds, hops, direction):
    """Pure-Python min-hop BFS over :func:`_typed_view`'s edges, in the
    view's node_key addressing: ``{node_key: hop}``."""
    from graflo_spark.query import Direction

    def site(sid, alt):
        return f"s\x1f{sid}" if sid is not None else f"s\x1f#alt\x1f{alt}"

    by_sid = {sid: site(sid, alt) for sid, alt in g["sites"] if sid is not None}
    by_alt = {alt: site(sid, alt) for sid, alt in g["sites"]}

    def site_end(sid, alt):
        # an edge endpoint resolves to the vertex its key addresses, in
        # whichever space that vertex's own key wins
        if sid is not None:
            return by_sid.get(sid, site(sid, None))
        return by_alt.get(alt, site(None, alt))

    typed = [(True, [(f"p\x1f{a}", f"p\x1f{b}") for a, b in g["knows"]]),
             (False, [(f"p\x1f{a}", f"p\x1f{b}") for a, b in g["friend"]]),
             (True, [(f"p\x1f{a}", f"c\x1f{cc}\x1f{cn}")
                     for a, cc, cn in g["works"]]),
             (True, [(f"c\x1f{cc}\x1f{cn}", site_end(sid, alt))
                     for cc, cn, sid, alt in g["uses"]])]
    adj: dict[str, set[str]] = {}
    for directed, pairs in typed:
        for a, b in pairs:
            if direction in (Direction.OUT, Direction.ANY) or not directed:
                adj.setdefault(a, set()).add(b)
            if direction in (Direction.IN, Direction.ANY) or not directed:
                adj.setdefault(b, set()).add(a)
    hop = {k: 0 for k in seeds}
    frontier = set(seeds)
    for h in range(1, hops + 1):
        frontier = {b for a in frontier for b in adj.get(a, ())} - hop.keys()
        if not frontier:
            break
        hop.update({k: h for k in frontier})
    return hop


@pytest.mark.parametrize("direction,graph_seed,hops,chain_hops",
                         [("out", 11, (1, 3), 3), ("in", 12, (2, 3), 2),
                          ("any", 13, (1, 2), 3)])
def test_traverse_matches_python_bfs(spark, direction, graph_seed, hops,
                                     chain_hops):
    """traverse == a pure-Python BFS over the collected edges, per
    direction, on a seeded random graph: 1-3 hops from person and
    multi-space site seeds, plus the isolated chain, whose frontier
    empties after one hop — before the last hop (3 hops) or AT it (an
    empty last hop, 2 hops)."""
    import random

    from graflo_spark.query import Direction

    direction = Direction(direction)
    g = _random_typed_graph(graph_seed)
    view = _typed_view(spark, **g)
    rng = random.Random(graph_seed)
    people = rng.sample(range(10), 2)
    alt = rng.choice([50, 51, 54])
    site_seed = {50: "s\x1f0", 51: "s\x1f1", 54: "s\x1f#alt\x1f54"}[alt]
    chain = 101 if direction == Direction.IN else 100
    cases = [
        ([("p", {"field": "id", "op": "IN", "value": people}),
          ("s", {"field": "alt", "op": "==", "value": alt})],
         [f"p\x1f{i}" for i in people] + [site_seed], h)
        for h in hops
    ] + [([("p", {"field": "id", "op": "==", "value": chain})],
          [f"p\x1f{chain}"], chain_hops)]
    for seeds, keys, h in cases:
        want = _reference_bfs(g, keys, h, direction)
        rows = view.traverse(seeds, hops=h, direction=direction).collect()
        got = {r["node_key"]: r["hop"] for r in rows}
        assert len(rows) == len(got)
        assert got == want, (seeds, h)
    assert max(want.values()) == 1  # the chain's frontier emptied


def test_bfs_one_row_per_node_key(spark):
    """_bfs emits ONE row per node at its minimal hop, with no aggregate
    after it: a seed that another type's seed also reaches, a node at two
    hop distances, and a multi-space site addressed through both of its
    spaces (reached again at the last hop)."""
    from graflo_spark.query import Direction

    g = dict(persons=[0, 1, 2], knows=[(0, 1), (1, 2), (0, 2)], friend=[],
             works=[(0, 0, 0), (2, 1, 1)],
             uses=[(0, 0, 1, 51), (0, 0, None, 51), (1, 1, None, 51)],
             sites=[(1, 51)])
    view = _typed_view(spark, **g)
    initial = {
        **view._seed_frontiers("p", F.col("id") == 0),
        # company (0, 0) is a seed AND one hop from person 0
        **view._seed_frontiers("c", (F.col("cc") == 0) & (F.col("cn") == 0)),
    }
    sink: list[str] = []
    rows = view._bfs(initial, 3, Direction.OUT, None, plan_sink=sink).collect()
    got = {r["node_key"]: r["hop"] for r in rows}
    assert len(rows) == len(got)
    assert got == {"p\x1f0": 0, "c\x1f0\x1f0": 0, "p\x1f1": 1, "p\x1f2": 1,
                   "s\x1f1": 1, "c\x1f1\x1f1": 2}
    # plan_sink holds every hop's final adaptive plan, the last hop's
    # (run by the result's checkpoint) included
    heads = [p.split("\n", 1)[0] for p in sink]
    assert {h.split(" -> ")[0] for h in heads} == {
        "-- hop 1", "-- hop 2", "-- hop 3"}
    assert "-- hop 3 -> s:@" in heads
    assert all("isFinalPlan=true" in p for p in sink)


def test_bfs_job_count(spark):
    """A 2-hop traverse plus a 1-hop neighbors, collected, launch at most
    ``bound`` Spark jobs. Every probed frontier's count comes from its own
    checkpoint job and the last hop runs inside the final checkpoint, so a
    per-hop count() action or a last-hop checkpoint breaks the bound."""
    from graflo_spark.query import Direction

    view = _typed_view(spark, **_random_typed_graph(11))
    sc = spark.sparkContext
    group = "test_bfs_job_count"
    sc.setJobGroup(group, "bfs job count")
    try:
        view.traverse([("p", {"field": "id", "op": "IN", "value": [0, 1]})],
                      hops=2, direction=Direction.OUT).collect()
        view.neighbors("p", {"field": "id", "op": "==", "value": 2},
                       hops=1, direction=Direction.ANY).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # 33 jobs on Spark 4.1 local mode. Bringing back the per-hop count()
    # actions makes it 41; checkpointing the last hop makes it 40.
    assert jobs <= 36, jobs


def test_bfs_builds_adjacency_only_for_reached_types(spark, store):
    """A traversal that never reaches the multi-space supplier type never
    resolves supplier edge endpoints (_with_canon); one that does, does."""
    from graflo_spark.query import Direction, GraphView

    view = store.as_view()
    calls = []
    orig = GraphView._with_canon

    def spy(self, df, vertex, *a, **kw):
        calls.append(vertex)
        return orig(self, df, vertex, *a, **kw)

    GraphView._with_canon = spy
    try:
        view.traverse(
            [("customer", {"field": "c_custkey", "op": "IN",
                           "value": [1, 2]})],
            hops=2, direction=Direction.IN).collect()
        assert calls == []
        view.neighbors("nation", {"field": "n_nationkey", "op": "==",
                                  "value": 1},
                       hops=1, direction=Direction.ANY).collect()
        assert "supplier" in calls
    finally:
        GraphView._with_canon = orig
