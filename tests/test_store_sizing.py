"""GraphStore bucket sizing: a table's bucket count follows its size.

The first commit picks the smallest power of two that keeps a bucket under
``store.TARGET_BUCKET_BYTES``, each manifest records its count, a merge that
would overfill a bucket re-buckets the table, and ``compact()`` re-sizes.
The target is monkeypatched down so tiny tables exercise every path.
"""

import json
import os

from pyspark.sql import functions as F

from graflo_spark import store as store_mod
from graflo_spark.manifest import CoreSchema, Field, Vertex
from graflo_spark.store import BUCKET_COL, GraphStore

_SCHEMA = CoreSchema(
    vertices=[Vertex("doc", [Field("id"), Field("v")], identity=["id"])],
    edges=[],
)


def _docs(spark, lo, hi, v="a"):
    return spark.range(lo, hi).select(F.col("id"), F.lit(v).alias("v"))


def _commit(st):
    """(version, buckets map, n_buckets) of the doc table."""
    return st._current_commit(st._table_dir("vertices", "doc"))


def _rows(st):
    return {r["id"]: r["v"] for r in st.read_vertices("doc").collect()}


def _misplaced(spark, st):
    """Rows whose bucket dir disagrees with the hash under the manifest's
    count (0 when the table is consistently bucketed)."""
    tdir = st._table_dir("vertices", "doc")
    _v, manifest, n = _commit(st)
    df = None
    for b, rel in manifest.items():
        part = spark.read.parquet(os.path.join(tdir, rel)).withColumn(
            BUCKET_COL, F.lit(int(b)))
        df = part if df is None else df.unionByName(part)
    return df.filter(
        F.col(BUCKET_COL) != st._bucket_expr(["id"], n)).count()


def test_first_commit_sized_power_of_two(spark, tmp_path, monkeypatch):
    """At the default target a small table is one bucket; a lower target
    gives the smallest power of two that fits the batch's estimated
    bytes (rows x Spark's schema width), recorded in the manifest."""
    st = GraphStore(spark, str(tmp_path / "g"), _SCHEMA)
    st.upsert_vertices("doc", _docs(spark, 0, 200))
    _v, manifest, n = _commit(st)
    assert n == 1 and list(manifest) == ["0"]

    df = _docs(spark, 0, 200)
    width = df._jdf.schema().defaultSize()
    monkeypatch.setattr(store_mod, "TARGET_BUCKET_BYTES", 1000)
    sized = GraphStore(spark, str(tmp_path / "s"), _SCHEMA)
    sized.upsert_vertices("doc", df)
    _v, manifest, n = _commit(sized)
    want = 1
    while want * 1000 < 200 * width:
        want *= 2
    assert n == want > 1
    assert {int(b) for b in manifest} <= set(range(n))
    with open(os.path.join(sized._table_dir("vertices", "doc"), "commits",
                           "v0000000001.json")) as f:
        assert json.load(f)["n_buckets"] == n
    assert not os.path.exists(
        os.path.join(sized._table_dir("vertices", "doc"), "_meta.json"))
    assert _misplaced(spark, sized) == 0


def test_growth_rebuckets_and_keeps_merge_semantics(spark, tmp_path,
                                                    monkeypatch):
    """A merge that would push a bucket past twice the target re-buckets
    the whole table at (at least) double the count; rows and the
    never-null-out upsert semantics survive, and afterwards a one-row
    patch rewrites exactly one bucket."""
    monkeypatch.setattr(store_mod, "TARGET_BUCKET_BYTES", 2048)
    st = GraphStore(spark, str(tmp_path / "g"), _SCHEMA)
    st.upsert_vertices("doc", _docs(spark, 0, 10))
    assert _commit(st)[2] == 1

    grow = spark.createDataFrame(
        [(0, "patched"), (1, None)] + [(i, "b") for i in range(10, 600)],
        "id long, v string")
    st.upsert_vertices("doc", grow)
    _v, before, n = _commit(st)
    assert n >= 2 and n & (n - 1) == 0
    assert len({rel.split(os.sep)[1] for rel in before.values()}) == 1
    got = _rows(st)
    assert len(got) == 600
    assert got[0] == "patched" and got[1] == "a" and got[500] == "b"
    assert _misplaced(spark, st) == 0

    st.upsert_vertices("doc", spark.createDataFrame(
        [(7, "one")], "id long, v string"))
    _v, after, n_after = _commit(st)
    assert n_after == n
    assert sum(after[b] != before.get(b) for b in after) == 1
    got = _rows(st)
    assert len(got) == 600 and got[7] == "one"


def test_legacy_manifest_keeps_its_count(spark, tmp_path):
    """A store written before manifests recorded ``n_buckets`` (count
    pinned in ``_meta.json``) keeps hashing at that count: a patch merges
    onto the existing row, rewrites one bucket, and the next manifest
    records the legacy count."""
    st = GraphStore(spark, str(tmp_path / "g"), _SCHEMA, n_buckets=8)
    st.upsert_vertices("doc", _docs(spark, 0, 100))
    tdir = st._table_dir("vertices", "doc")
    path = os.path.join(tdir, "commits", "v0000000001.json")
    with open(path) as f:
        m = json.load(f)
    del m["n_buckets"]
    with open(path, "w") as f:
        json.dump(m, f)
    with open(os.path.join(tdir, "_meta.json"), "w") as f:
        json.dump({"n_buckets": 8}, f)

    fresh = GraphStore(spark, str(tmp_path / "g"), _SCHEMA)
    _v, before, n = _commit(fresh)
    assert n == 8
    fresh.upsert_vertices("doc", spark.createDataFrame(
        [(5, "NEW")], "id long, v string"))
    _v, after, n = _commit(fresh)
    assert n == 8
    assert sum(after[b] != before.get(b) for b in after) == 1
    got = _rows(fresh)
    assert len(got) == 100 and got[5] == "NEW" and got[6] == "a"


def test_compact_shrinks_oversized_table(spark, tmp_path):
    """compact() re-sizes from the table's bytes: a 64-bucket table of a
    few KB becomes one bucket with the same contents, and later upserts
    hash with the new count."""
    st = GraphStore(spark, str(tmp_path / "g"), _SCHEMA, n_buckets=64)
    st.upsert_vertices("doc", _docs(spark, 0, 300))
    _v, manifest, n = _commit(st)
    assert n == 64 and len(manifest) > 32
    before = _rows(st)
    st.compact("vertices", "doc")
    _v, manifest, n = _commit(st)
    assert n == 1 and list(manifest) == ["0"]
    assert _rows(st) == before
    st.upsert_vertices("doc", spark.createDataFrame(
        [(3, "c")], "id long, v string"))
    got = _rows(st)
    assert len(got) == 300 and got[3] == "c"


def test_writer_losing_to_rebucket_reprobes(spark, tmp_path, monkeypatch):
    """A writer whose commit loses the race to a re-bucketing commit
    (here a compaction from 8 buckets to 1) merges again under the NEW
    count: its touched buckets are recomputed, so no identity is
    duplicated and no untouched row is lost."""
    root = str(tmp_path / "g")
    writer = GraphStore(spark, root, _SCHEMA, n_buckets=8)
    writer.upsert_vertices("doc", _docs(spark, 0, 100))
    real = writer._write_buckets
    raced = []

    def write_then_lose(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:
            raced.append(True)
            GraphStore(spark, root, _SCHEMA).compact("vertices", "doc")
        return out

    monkeypatch.setattr(writer, "_write_buckets", write_then_lose)
    writer.upsert_vertices("doc", spark.createDataFrame(
        [(1, "NEW"), (2, "NEW"), (1000, "NEW")], "id long, v string"))
    assert raced
    version, _manifest, n = _commit(writer)
    assert version == 3 and n == 1
    rows = writer.read_vertices("doc").collect()
    assert len(rows) == len({r["id"] for r in rows}) == 101
    got = {r["id"]: r["v"] for r in rows}
    assert got[1] == got[2] == got[1000] == "NEW" and got[3] == "a"
