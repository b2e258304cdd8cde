"""Shared operator utilities."""

from __future__ import annotations

import hashlib
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_bits(col: Column | str, hex_chars: int) -> Column:
    """The package's one content hash: the first ``hex_chars`` hex digits
    of ``md5(col)`` (UTF-8 bytes) as a non-negative long — 8 digits give
    32-bit keys (shingles, LSH bands, SimHash tokens), 15 give 60-bit keys
    (lines, grams, sampling, DSIR, quality buckets, term buckets). Any
    engine with md5 replays it bit for bit (DuckDB
    ``('0x' || substr(md5(x), 1, n))::BIGINT``), which is what lets the
    oracle gate grade every hashing operator. NULL in, NULL out.
    :func:`py_md5_bits` is the driver/Arrow-side twin."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def py_md5_bits(s: str | None, hex_chars: int) -> int | None:
    """Python twin of :func:`md5_bits` (hashlib and the JVM md5 agree byte
    for byte)."""
    if s is None:
        return None
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_chars], 16)


def small_input(df: DataFrame, bound: int) -> list | None:
    """The rows of ``df`` when it has at most ``bound`` of them, else None.

    The driver fast paths' probe: one bounded ``take(bound + 1)``, never a
    full count, and when the input fits the probe's rows ARE the input
    (no second collect). ``bound <= 0`` returns None without a job — the
    fast paths' way of forcing the distributed formulation."""
    if bound <= 0:
        return None
    rows = df.take(bound + 1)
    return rows if len(rows) <= bound else None


def ensure_min_parallelism(df: DataFrame, min_parts: int | None = None,
                           probe: bool = True) -> DataFrame:
    """Repartition up when the scan has fewer partitions than cores.

    Single-row-group parquet files are unsplittable, so a small benchmark
    input arrives as ONE task and per-row-heavy operators (shingling, token
    hashing) serialize on a single core. At production scale the input is
    already parallel and this is a no-op — the check costs only plan
    translation, no job.

    ``probe=False`` skips the partition-count probe and (under a local
    master) repartitions unconditionally. Use it when ``df`` is a JOIN or
    aggregate output feeding a CPU-heavy Python stage: on an adaptive
    plan, ``df.rdd`` finalizes the query stages — i.e. EXECUTES the
    upstream shuffles — just to answer ``getNumPartitions`` (r15: the
    ivf-pq candidate join was AQE-coalesced to ONE partition because its
    bytes are small, serializing a Q x n x m scoring stage on one core;
    probing it would have run the join twice).
    """
    sc = df.sparkSession.sparkContext
    # On a cluster the input is already parallel — skip even the partition
    # probe: df.rdd forces a plan conversion per call, a measurable tax on
    # microsecond-sensitive composition paths.
    if not sc.master.startswith("local"):
        return df
    target = min_parts or sc.defaultParallelism
    if not probe:
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# One lock for ALL checkpointers: block ids are attributed by diffing the
# session-global getPersistentRDDs map, so two checkpointers (or two
# threads driving one) interleaving their diff-checkpoint-diff sequences
# would misattribute each other's blocks and free them early. The
# critical section is tiny (one eager checkpoint + two map reads), so a
# global mutex costs nothing next to the checkpoint's own job.
_CKPT_LOCK = threading.Lock()


class Checkpointer:
    """Tracked eager ``localCheckpoint``: the package's one owner of
    materialized intermediates that outlive a single action.

    THE LIFETIME RULE (every materialization in the package follows it):

    - No ``persist()``/``cache()``. Spark's CacheManager keys an entry on
      the canonicalized plan and splices it into every LATER query whose
      plan matches, in any call. A re-invocation over changed files then
      reads stale blocks, and a plan with a nondeterministic column
      (``monotonically_increasing_id`` over an input whose row order is
      not fixed) is silently recomputed with different values once the
      entry is dropped. The entry also lives until someone unpersists it.
    - A frame that several consumers read within ONE call is
      ``df.localCheckpoint(eager=False)``, used directly: the first
      action fills it and every later consumer reads the same blocks; no
      other call can plan-match into it; its blocks die with the frame
      that reads them (Spark's ContextCleaner frees them after a JVM
      garbage collection finds the frame unreachable — not at a known
      point).
    - Loops and long-lived handles (iterative graph algorithms, the
      dedup/packing stores, streaming ingest) use THIS class, which frees
      blocks as soon as they are superseded.

    Trade-off: a local checkpoint is unreplicated and has no lineage, so
    losing the executor that holds a block fails the job that reads it
    (a persist would have recomputed). Under a local master this cannot
    happen; on a cluster with executor churn (spot nodes, dynamic
    allocation decommission) a failed job must be rerun.

    Every per-round localCheckpoint pins its blocks in the block manager
    until they are freed; dozens of iterative graph queries in one
    long-lived session would accumulate gigabytes of DEAD blocks (only
    the last round of each loop is ever read again) and degrade into GC
    storms — the failure measured at 20x in SCALE.md. This tracker keeps,
    per named slot, only the last ``keep`` generations of checkpoint
    blocks (default 2: the committing round plus the previous one, which
    a convergence check may still read) and unpersists older generations
    the moment a new round commits. Pass ``keep=None`` for slots a FINAL
    result still reads from every generation (e.g. a BFS whose output
    unions all hops) — nothing is freed until ``finish`` or exit.

    ``finish(result)`` checkpoints the RESULT, then frees every tracked
    block: ONE bounded block per algorithm call survives instead of
    max_iter edge-sized ones. Used as a context manager (``with
    Checkpointer(spark) as ck:``), leaving the block frees everything
    still tracked — on success and on error alike — so only what
    ``finish`` returned outlives it.

    Block ids are attributed by diffing
    ``JavaSparkContext.getPersistentRDDs`` around the checkpoint call;
    ``_CKPT_LOCK`` serializes that window across all checkpointers. The
    lock cannot cover code that does not take it: another driver thread
    calling ``localCheckpoint()`` during the window is attributed to the
    in-flight generation and may be freed early. Contract: while any
    checkpointer is active, other driver threads do not checkpoint
    untracked frames (all in-package call sites comply — each loop is
    single-threaded per call).
    """

    def __init__(self, spark, keep: int | None = 2):
        self.keep = keep
        self._jsc = spark.sparkContext._jsc
        self._gens: dict[str, list[set[int]]] = {}

    def __enter__(self) -> "Checkpointer":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        self._release_all(set())
        return False

    def _ids(self) -> set[int]:
        return {
            int(i) for i in self._jsc.getPersistentRDDs().keySet().toArray()
        }

    def _free(self, ids: set[int]) -> None:
        jmap = self._jsc.getPersistentRDDs()
        for i in ids:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)

    def __call__(self, df: DataFrame, slot: str = "main") -> DataFrame:
        with _CKPT_LOCK:
            before = self._ids()
            out = df.localCheckpoint(eager=True)
            gens = self._gens.setdefault(slot, [])
            gens.append(self._ids() - before)
            if self.keep is not None:
                while len(gens) > self.keep:
                    self._free(gens.pop(0))
        return out

    def finish(self, result: DataFrame) -> DataFrame:
        """Materialize ``result`` as its own checkpoint, then free every
        intermediate round's blocks. The returned frame is self-contained
        (LogicalRDD), so nothing it reads can have been freed."""
        with _CKPT_LOCK:
            before = self._ids()
            out = result.localCheckpoint(eager=True)
            keep = self._ids() - before
            self._release_all(keep)
        return out

    def _release_all(self, keep: set[int]) -> None:
        for gens in self._gens.values():
            for g in gens:
                self._free(g - keep)
        self._gens.clear()
