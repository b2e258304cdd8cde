"""Crash-point fuzz for the commit protocols (r13 verdict Next #4).

A kill-point is injected before EVERY Python-side filesystem mutation
(``os.rename`` / ``os.replace`` / ``os.link`` / ``os.unlink`` /
``shutil.move`` / ``shutil.rmtree``) an op performs — exhaustively: the
op runs with the kill at mutation 1, then 2, ... until it completes with
no kill triggered. After each kill a FRESH reader (new store instance,
as after a process death) must observe either the old or the new
committed state — never a torn one — and a RETRY of the op from that
fresh instance must land exactly the new state.

The JVM parquet write is outside the interception surface by design:
Spark's committer stages under ``_temporary`` and every store protocol
here treats a parquet dir as invisible until a Python-side
rename/link/commit-file publishes it — so each protocol-relevant
boundary IS one of the intercepted calls. ``KillPoint`` derives from
``Exception`` (not ``OSError``) so recovery branches written for real
fs errors (e.g. ``_store_compact.swap_in``'s second-rename rollback) do
NOT run — a kill is a process death, not a catchable error.

The r12 ``PackingStore.spans()`` committed-window fix is the existence
proof of this bug class; the r13 verdict ordered the class fuzzed.

Offline depth knobs (REVIEW_NOTES ledger): SPARK_GRAFT_CRASH_SEEDS
randomized op-sequence seeds (default 2), SPARK_GRAFT_CRASH_OPS ops per
sequence (default 4), SPARK_GRAFT_CRASH_BASE first seed (default 3000).
"""

import os
import random
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from graflo_spark.container import GraphBatch
from graflo_spark.manifest import CoreSchema, Edge, EdgeId, Field, FieldType, Vertex
from graflo_spark.ops import packing as pk
from graflo_spark.ops import simsearch as ss
from graflo_spark.store import GraphStore


class KillPoint(Exception):
    """Simulated process death at a filesystem mutation."""


_PATCH = [(os, "rename"), (os, "replace"), (os, "link"), (os, "unlink"),
          (shutil, "move"), (shutil, "rmtree")]


class _Killer:
    """Counts intercepted fs mutations; raises at mutation ``kill_at``
    (1-indexed) when set, leaving that mutation UNDONE — death strikes
    before the syscall."""

    def __init__(self):
        self.count = 0
        self.kill_at = None
        self._real = {}
        # write_batch lanes mutate from several threads: the count and
        # the kill decision must be one step, so exactly one mutation dies
        self._lock = threading.Lock()

    def __enter__(self):
        for mod, name in _PATCH:
            real = getattr(mod, name)
            self._real[(mod, name)] = real

            def wrapped(*a, __real=real, **k):
                with self._lock:
                    self.count += 1
                    n = self.count
                if self.kill_at is not None and n == self.kill_at:
                    raise KillPoint(
                        f"killed before mutation #{n} "
                        f"({__real.__module__}.{__real.__name__}{a[:2]})")
                return __real(*a, **k)

            setattr(mod, name, wrapped)
        return self

    def __exit__(self, *exc):
        for (mod, name), real in self._real.items():
            setattr(mod, name, real)
        return False


def _sweep(tmp_path, build, op, retry, read):
    """Kill-point sweep of one op.

    ``build(path)`` populates a store and returns its handle; ``op(h)``
    is the operation under test; ``retry(path)`` re-runs it from a FRESH
    handle (the post-crash restart); ``read(path)`` returns the canonical
    reader-visible state from a fresh handle. Returns the number of kill
    points AVAILABLE (>= 1 asserts the op actually mutates). Every
    sampled kill point must actually fire.

    Depth (r15, driver-budget fix): each kill point costs a full store
    rebuild + op + two reads (~10 s of Spark actions), so the two compact
    sweeps alone were 13.5 min of the 64-min suite. CI sweeps a
    DETERMINISTIC sample of at most ``SPARK_GRAFT_CRASH_SWEEP_MAX``
    (default 6) kill points — always including the first two mutations
    (the earliest-rename hazards), the last, and evenly spaced middles —
    plus one un-killed commit check. ``SPARK_GRAFT_CRASH_SWEEP_MAX=0``
    restores the exhaustive sweep (the offline/ledgered depth; r13-r15
    all ran it at least once per round)."""
    ref = str(tmp_path / "ref")
    h = build(ref)
    old = read(ref)
    with _Killer() as counting:  # count the op's fs mutations; no kill
        op(h)
    new = read(ref)
    total = counting.count
    if total == 0:
        return 0

    max_pts = int(os.environ.get("SPARK_GRAFT_CRASH_SWEEP_MAX", "6"))
    if max_pts and total > max_pts:
        step = max(1, total // max_pts)
        pts = sorted({1, 2, total, *range(1, total + 1, step)})[:max_pts]
        if total not in pts:
            pts[-1] = total
    else:
        pts = list(range(1, total + 1))

    for n in pts:
        path = str(tmp_path / f"k{n}")
        h = build(path)
        assert read(path) == old
        with _Killer() as killer:
            killer.kill_at = n
            try:
                op(h)
            except KillPoint:
                pass
        # every sampled point must fire: a run that never reaches mutation
        # n means the op's mutation sequence drifted from the counting
        # run, and the sweep would silently thin out
        assert killer.count >= n, (
            f"kill point {n} never fired: the op made only {killer.count} "
            f"filesystem mutations, the counting run {total}")
        seen = read(path)  # fresh reader over the crashed layout
        assert seen == old or seen == new, (
            f"kill at mutation {n}: torn state — reader saw neither the "
            f"old nor the new version")
        retry(path)
        assert read(path) == new, (
            f"kill at mutation {n}: retry did not converge to the "
            f"committed new state")

    # un-killed commit check on a fresh build (the exhaustive loop's
    # terminating iteration, preserved under sampling)
    path = str(tmp_path / "k-commit")
    h = build(path)
    op(h)
    assert read(path) == new, "un-killed run did not commit"
    return total


# ------------------------------------------------------------ GraphStore

_SCHEMA = CoreSchema(
    vertices=[
        Vertex("person", [Field("pid", FieldType.INT), Field("nm")],
               identity=["pid"]),
    ],
    edges=[Edge("person", "person", relation="knows")],
)


def _gbuild(spark, path):
    store = GraphStore(spark, path, _SCHEMA)
    store.apply_target_schema()
    store.upsert_vertices("person", spark.createDataFrame(
        [(1, "a"), (2, "b")], "pid int, nm string"))
    return store


def _gread(spark, path):
    store = GraphStore(spark, path, _SCHEMA)
    out = {"person": sorted(
        (r["pid"], r["nm"]) for r in store.read_vertices("person").collect())}
    try:
        out["knows"] = sorted(
            (r["_src_pid"], r["_dst_pid"])
            for r in store.read_edges(
                EdgeId("person", "person", "knows")).collect())
    except FileNotFoundError:
        out["knows"] = None
    return out


def test_crash_sweep_graph_upsert(spark, tmp_path):
    """OCC vertex upsert: hard-link publish means every pre-link kill
    leaves the old version, every post-link kill the new one."""
    batch = [(2, "B"), (3, "c")]

    def op(store):
        store.upsert_vertices("person", spark.createDataFrame(
            batch, "pid int, nm string"))

    n = _sweep(tmp_path, lambda p: _gbuild(spark, p), op,
               lambda p: op(GraphStore(spark, p, _SCHEMA)),
               lambda p: _gread(spark, p))
    assert n >= 2


def test_crash_sweep_graph_edge_insert(spark, tmp_path):
    edges = [(1, 2), (2, 1)]
    eid = EdgeId("person", "person", "knows")

    def op(store):
        store.insert_edges(eid, spark.createDataFrame(
            edges, "_src_pid int, _dst_pid int"))

    n = _sweep(tmp_path, lambda p: _gbuild(spark, p), op,
               lambda p: op(GraphStore(spark, p, _SCHEMA)),
               lambda p: _gread(spark, p))
    assert n >= 2


def test_crash_sweep_graph_rebucket(spark, tmp_path, monkeypatch):
    """A growth commit re-buckets the WHOLE table under a new count in
    one manifest: every kill leaves the old one-bucket table or the new
    layout, and the retry converges."""
    from graflo_spark import store as store_mod

    monkeypatch.setattr(store_mod, "TARGET_BUCKET_BYTES", 4096)
    batch = [(i, f"n{i}") for i in range(2, 400)]

    def op(store):
        store.upsert_vertices("person", spark.createDataFrame(
            batch, "pid int, nm string"))

    n = _sweep(tmp_path, lambda p: _gbuild(spark, p), op,
               lambda p: op(GraphStore(spark, p, _SCHEMA)),
               lambda p: _gread(spark, p))
    assert n >= 2
    ref = GraphStore(spark, str(tmp_path / "ref"), _SCHEMA)
    assert ref._current_commit(ref._table_dir("vertices", "person"))[2] > 1


_KNOWS = EdgeId("person", "person", "knows")


def _gbuild_graph(spark, path):
    store = GraphStore(spark, path, _SCHEMA)
    store.apply_target_schema()
    store.write_batch(GraphBatch(
        vertices={"person": spark.createDataFrame(
            [(1, "a"), (2, "b")], "pid int, nm string")},
        edges={_KNOWS: spark.createDataFrame(
            [(1, 2)], "_src_pid int, _dst_pid int")}))
    return store


def _gread_graph(spark, path):
    """The reader-visible GRAPH: both tables at one graph version."""
    view = GraphStore(spark, path, _SCHEMA).as_view_at()
    return {
        "person": sorted((r["pid"], r["nm"])
                         for r in view.vertices["person"].collect()),
        "knows": sorted((r["_src_pid"], r["_dst_pid"])
                        for r in view.edges[_KNOWS].collect()),
    }


def test_crash_sweep_graph_write_batch(spark, tmp_path):
    """A two-table write_batch runs its vertex and edge lanes
    concurrently: a kill in one lane lets the other commit its table,
    but no graph version is published, so a reader through as_view_at
    sees the old graph or the new one, never the new vertices with the
    old edges; the retry converges."""

    def op(store):
        store.write_batch(GraphBatch(
            vertices={"person": spark.createDataFrame(
                [(2, "B"), (3, "c")], "pid int, nm string")},
            edges={_KNOWS: spark.createDataFrame(
                [(2, 3), (3, 1)], "_src_pid int, _dst_pid int")}))

    n = _sweep(tmp_path, lambda p: _gbuild_graph(spark, p), op,
               lambda p: op(GraphStore(spark, p, _SCHEMA)),
               lambda p: _gread_graph(spark, p))
    assert n >= 4  # two table publishes + the graph publish, at least


# ----------------------------------------------------------- PackingStore

def _pdocs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, 10 + i) for i in range(lo, hi)], "doc_id int, n_tok int")


def _pbuild(spark, path, batches=3):
    store = pk.PackingStore(spark, path, chunk_tokens=64)
    for i in range(batches):
        store.pack_batch(_pdocs(spark, 4 * i, 4 * i + 4), batch_id=i)
    return store


def _pread(spark, path):
    from pyspark.errors import AnalysisException

    store = pk.PackingStore(spark, path, chunk_tokens=64)
    try:
        df = store.spans()
        rows = sorted(
            tuple("\x00null" if r[c] is None else str(r[c])
                  for c in sorted(df.columns))
            for r in df.collect())
    except AnalysisException:   # brand-new store: no spans dir yet
        rows = []
    return (store.running_total(), rows)


def test_crash_sweep_pack_batch(spark, tmp_path):
    """pack_batch commits (total, seq, batch_id, prev_total) AFTER the
    spans write: a kill in between leaves an orphan dir that spans()
    must not read and the retry must overwrite, not append to."""
    def op(store):
        store.pack_batch(_pdocs(spark, 12, 16), batch_id=3)

    n = _sweep(tmp_path, lambda p: _pbuild(spark, p), op,
               lambda p: op(pk.PackingStore(spark, p, chunk_tokens=64)),
               lambda p: _pread(spark, p))
    assert n >= 1


def test_crash_sweep_pack_compact(spark, tmp_path):
    """compact()'s two-rename spans-root swap: a death between the
    renames must be healed by _restore_spans_if_needed on the next
    reader; content is identical before/after (fold only relocates), so
    the assertion is exactly 'no torn state, ever'."""
    def op(store):
        store.compact(full=True)

    n = _sweep(tmp_path, lambda p: _pbuild(spark, p, batches=5), op,
               lambda p: op(pk.PackingStore(spark, p, chunk_tokens=64)),
               lambda p: _pread(spark, p))
    assert n >= 3


# ---------------------------------------------------------- IvfIndexStore

def _vecs(spark, lo, hi):
    rows = [(i, [float((i * 7 + j * 3) % 5) / 4.0 for j in range(8)])
            for i in range(lo, hi)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def _ibuild(spark, path, batches=5):
    cents = [r["embedding"] for r in _vecs(spark, 0, 3).collect()]
    store = ss.IvfIndexStore(spark, path, centroids=cents)
    for i in range(batches):
        store.ingest_batch(_vecs(spark, 4 * i, 4 * i + 4), batch_id=i)
    return store


def _iread(spark, path):
    cents = [r["embedding"] for r in _vecs(spark, 0, 3).collect()]
    store = ss.IvfIndexStore(spark, path, centroids=cents)
    idx = store.as_index()
    return sorted((r["neighbor_id"], r["cluster"])
                  for r in idx.assigned.collect())


def test_crash_sweep_ivf_compact(spark, tmp_path):
    def op(store):
        store.compact(full=True)

    def retry(path):
        cents = [r["embedding"] for r in _vecs(spark, 0, 3).collect()]
        op(ss.IvfIndexStore(spark, path, centroids=cents))

    n = _sweep(tmp_path, lambda p: _ibuild(spark, p), op, retry,
               lambda p: _iread(spark, p))
    assert n >= 3


# ----------------------------------------- randomized op-sequence fuzz

def test_crash_point_random_sequences(spark, tmp_path):
    """Randomized sequences of store ops, each with a RANDOM kill point:
    after every kill, the fresh-reader old-or-new invariant holds and the
    retry converges, then the sequence continues on the recovered store —
    so a crash mid-sequence cannot poison later commits. CI default is
    shallow; the offline sweep (env knobs above) is the ledgered depth."""
    n_seeds = int(os.environ.get("SPARK_GRAFT_CRASH_SEEDS", "2"))
    n_ops = int(os.environ.get("SPARK_GRAFT_CRASH_OPS", "4"))
    base = int(os.environ.get("SPARK_GRAFT_CRASH_BASE", "3000"))
    for seed in range(n_seeds):
        rng = random.Random(base + seed)
        path = str(tmp_path / f"s{seed}")
        store = pk.PackingStore(spark, path, chunk_tokens=64)
        next_bid = [0]

        def rand_op(rng=rng, next_bid=next_bid):
            kind = rng.choice(["pack", "pack", "pack", "compact", "replay"])
            if kind == "pack" or (kind == "replay" and next_bid[0] == 0):
                bid = next_bid[0]
                next_bid[0] += 1
            elif kind == "replay":
                bid = next_bid[0] - 1
            else:
                return "compact", None
            return "pack", bid

        for step in range(n_ops):
            kind, bid = rand_op()

            def op(h, kind=kind, bid=bid):
                if kind == "compact":
                    h.compact(full=True, min_run=2)
                else:
                    h.pack_batch(_pdocs(spark, 4 * bid, 4 * bid + 4),
                                 batch_id=bid)

            old = _pread(spark, path)
            # reference run on a throwaway copy: yields the op's mutation
            # count (to pick a legal random kill point) AND the expected
            # new state (pack_chunks is deterministic; compact relocates)
            probe_dir = str(tmp_path / f"s{seed}-probe{step}")
            shutil.copytree(path, probe_dir)
            with _Killer() as counting:
                op(pk.PackingStore(spark, probe_dir, chunk_tokens=64))
            new_ref = _pread(spark, probe_dir)
            shutil.rmtree(probe_dir, ignore_errors=True)
            if counting.count == 0:
                op(store)
                continue
            kill_n = rng.randint(1, counting.count)
            with _Killer() as killer:
                killer.kill_at = kill_n
                try:
                    op(store)
                    killed = False
                except KillPoint:
                    killed = True
            seen = _pread(spark, path)
            assert seen == old or seen == new_ref, (
                f"seed {base + seed} step {step}: kill at {kill_n}/"
                f"{counting.count}: torn state — neither old nor new")
            if killed:
                op(pk.PackingStore(spark, path, chunk_tokens=64))
            assert _pread(spark, path) == new_ref, (
                f"seed {base + seed} step {step}: kill at {kill_n}/"
                f"{counting.count}: retry did not converge")
            # recovered store continues the sequence
            store = pk.PackingStore(spark, path, chunk_tokens=64)
        # the sequence's final state is readable and internally consistent
        total, rows = _pread(spark, path)
        assert total >= 0 and isinstance(rows, list)
