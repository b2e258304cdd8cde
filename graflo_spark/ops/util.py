"""Shared operator utilities."""

from __future__ import annotations

import hashlib
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCOPED_CACHE: dict[str, DataFrame] = {}
_SCOPED_LOCK = threading.Lock()


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


def scoped_persist(df: DataFrame, scope: str) -> DataFrame:
    """``persist()`` with a single-generation, per-scope lifetime.

    Spark's CacheManager keys cache entries on the CANONICALIZED PLAN and
    splices them into every later query: a second invocation of an
    operator that builds the same plan over the same input paths silently
    short-circuits into the first invocation's materialized blocks
    (verified: a fresh ``minhash_lsh_candidates`` plan contained an
    ``InMemoryTableScan`` of the previous call's persist). For a library
    whose operators are re-invoked against live paths that silently
    serves STALE data if the files changed between calls, and in a
    benchmark it lets later runs skip the very work being timed; either
    way the un-unpersisted entries and their blocks accumulate for the
    session (r14 bench: progressive run-to-run degradation).

    scoped_persist keeps exactly ONE live generation per scope: each call
    unpersists the scope's previous frame (removing its CacheManager
    entry and blocks) before persisting the new one. Reuse is therefore
    WITHIN the invocation that created the frame; across invocations the
    plan recomputes from its inputs. Unpersisting a frame an earlier
    consumer still references is safe — Spark transparently recomputes
    from lineage.
    """
    with _SCOPED_LOCK:
        old = _SCOPED_CACHE.pop(scope, None)
    if old is not None:
        try:
            old.unpersist(False)
        except Exception:  # session already stopped — nothing to free
            pass
    out = df.persist()
    with _SCOPED_LOCK:
        _SCOPED_CACHE[scope] = out
    return out


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
