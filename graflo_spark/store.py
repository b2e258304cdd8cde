"""GraphStore — parquet-backed vertex/edge tables with upsert-on-identity.

Spark-native re-imagining of the reference's "graflo file backend"
(graflo/db/graflo_backend/connection.py — chunked JSONL + in-memory edge
index capped at 2M rows): one parquet directory per vertex type and per edge
type with incremental merge-on-identity upserts, so re-ingest is idempotent
(the reference's reload-merges-on-keys property, db/conn.py:390-404).

Scale notes: tables are hash-bucketed on the merge key
(``pmod(xxhash64(identity), n_buckets)``). An upsert touches ONLY the
buckets the incoming batch hashes into: existing rows are read via
manifest file-list pruning and the rewrite lands in immutable per-commit
data directories — a 10k-row batch against a 10 TB table rewrites ~10k
rows worth of buckets, not the table. The write is two shuffles: the
merge aggregate on the identity columns, then ``repartition(__b)`` so
each bucket lands as one file.

Bucket count follows the data: a table's first commit takes the smallest
power of two that keeps a bucket under ``TARGET_BUCKET_BYTES`` (one scan
split, one merge task), and each manifest records the count it hashed
with. A merge that would leave a bucket above twice the target re-buckets
the whole table at the next fitting power of two, so a table born from a
tiny micro-batch keeps O(batch) upserts and its total rewrite work stays
O(final size) (doubling is a geometric series). ``compact()`` re-sizes
from the table's current bytes, which can also shrink it.

Commit protocol (Iceberg-style optimistic concurrency): the table's
current state is ONE manifest file ``commits/v<N>.json`` mapping each
bucket id to the immutable data directory holding its rows. A writer
reads manifest N, merges against exactly those files, writes its output
under a fresh ``data/<commit-id>/`` directory, and publishes by
atomically CREATING ``v<N+1>.json`` (``os.link`` of a fully-written temp
file — create-or-fail, never partial). If another writer got there
first, the creation fails cleanly, the orphaned data directory is
discarded, and the merge re-runs against the new manifest — writers
serialize, readers always see a complete committed version, and a torn
multi-bucket state is unrepresentable. This is the zero-dependency
analogue of a Delta/Iceberg ``MERGE INTO`` commit; on a production
lakehouse swap the manifest swap for the table format's log append.
Version retention mirrors Iceberg snapshot expiration: old manifests
past ``snapshot_keep`` are dropped and data directories no longer
referenced are deleted — a reader/writer pinned to an expired version
for longer than the retention window can fail mid-scan, the standard
table-format constraint.

Batch writes (``write_batch``) run one lane per table: a table's frames
land in the order given, distinct tables land concurrently on a bounded
driver thread pool (each table's commit is independent, so lanes never
contend), and one graph-level manifest then pins every table's new
version — readers of ``as_view_at`` see the whole call or none of it.

Full-table rewrites (schema evolution ops) still go through versioned
snapshots (`_write_snapshot`), which invalidate the bucketed layout; the
next upsert re-buckets from the snapshot.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graflo_spark.container import GraphBatch
from graflo_spark.manifest import CoreSchema, EdgeId, IndexConfig, IndexType


BUCKET_COL = "__b"

# Spark's default spark.sql.files.maxPartitionBytes: a bucket of this size
# is one scan split and one merge task.
TARGET_BUCKET_BYTES = 128 * 1024**2


def _run_lane(writes: list) -> None:
    """Apply one table's writes in order."""
    for write in writes:
        write()


def _inheriting(spark: SparkSession, fn):
    """``fn`` wrapped to run with a copy of the calling thread's Spark
    local properties (job group, description, scheduler pool) and session
    tags. With pinned threads off (``PYSPARK_PIN_THREAD=false``) pyspark
    returns the session itself instead of a wrapper: local properties then
    belong to whichever JVM thread serves a call, not to a Python thread,
    so there is nothing to copy and ``fn`` runs as is."""
    wrap = inheritable_thread_target(spark)
    return wrap(fn) if callable(wrap) else fn


def _fit_buckets(nbytes: float, at_least: int = 1) -> int:
    """Smallest power of two, not below ``at_least``, that keeps
    ``nbytes`` spread over that many buckets under TARGET_BUCKET_BYTES."""
    n = at_least
    while nbytes > n * TARGET_BUCKET_BYTES:
        n *= 2
    return n


class GraphStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: CoreSchema,
        n_buckets: int | None = None,
        snapshot_keep: int = 2,
        snapshot_size_cap_bytes: int = 10 * 1024**3,
        gc_grace_seconds: float = 300.0,
    ):
        self.spark = spark
        self.root = root
        self.schema = schema
        # Override of a table's FIRST commit bucket count (None: sized from
        # the batch, see module docstring). Later commits hash with the
        # count their manifest records, whatever this store object says.
        self.n_buckets = n_buckets
        # Snapshot retention: keep `snapshot_keep` full-table generations for
        # rollback — but a full snapshot DOUBLES a table's storage, which at
        # 100 TB is not a rounding error. Above the size cap only the newest
        # generation is retained (the rollback window trades for storage).
        self.snapshot_keep = snapshot_keep
        self.snapshot_size_cap_bytes = snapshot_size_cap_bytes
        # Post-commit GC leaves unreferenced data dirs on disk for this long
        # before deleting: a reader pinned to an expired version (or a writer
        # that lost 2+ optimistic races) keeps scanning its files instead of
        # dying mid-job. expire_versions() bypasses the grace (explicit admin
        # action).
        self.gc_grace_seconds = gc_grace_seconds

    # ------------------------------------------------------------- layout
    def _table_dir(self, kind: str, name: str) -> str:
        return os.path.join(self.root, kind, name)

    def _buckets_dir(self, table_dir: str) -> str:
        return os.path.join(table_dir, "buckets")

    def _table_buckets(self, table_dir: str) -> int:
        """Bucket count of a LEGACY table (pre-manifest bucket dirs, or
        manifests that predate the recorded ``n_buckets``): the count its
        ``_meta.json`` pinned, else the fixed default those stores used."""
        meta_path = os.path.join(table_dir, "_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                return json.load(f)["n_buckets"]
        return 64

    @staticmethod
    def _bucket_expr(key_cols: list[str], n: int) -> F.Column:
        return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n))

    def _read_buckets(self, table_dir: str, only: list[int] | None = None) -> DataFrame:
        """LEGACY pre-manifest layout reader (mutable ``buckets/__b=N``
        dirs); kept so existing stores upgrade in place — the first
        manifest commit migrates them. ``only`` prunes via a partition
        filter."""
        df = self.spark.read.option("mergeSchema", "true").parquet(
            self._buckets_dir(table_dir)
        )
        if only is not None:
            df = df.filter(F.col(BUCKET_COL).isin(only))
        return df.drop(BUCKET_COL)

    # -------------------------------------------- manifest commit protocol
    def _commits_dir(self, table_dir: str) -> str:
        return os.path.join(table_dir, "commits")

    def _data_dir(self, table_dir: str) -> str:
        return os.path.join(table_dir, "data")

    def _current_manifest(self, table_dir: str) -> tuple[int, dict[str, str]]:
        """(version, {bucket_id: table-relative data dir}) of the newest
        committed manifest; see :meth:`_current_commit`."""
        version, buckets, _n = self._current_commit(table_dir)
        return version, buckets

    def _current_commit(
        self, table_dir: str
    ) -> tuple[int, dict[str, str], int]:
        """(version, {bucket_id: table-relative data dir}, n_buckets) of
        the newest committed manifest; when the table has none,
        (floor, {}, 0) where floor is the snapshot-era version counter
        (_write_snapshot) or 0 for a genuinely fresh table — the counter
        NEVER restarts across a schema-evolution snapshot, so a
        post-evolution commit can never alias a version number some graph
        manifest pinned pre-evolution. Manifests written before the count
        was recorded hash with :meth:`_table_buckets`. Manifest files
        appear atomically (hard-link publish), so the newest one present
        is always complete."""
        cdir = self._commits_dir(table_dir)
        if not os.path.isdir(cdir):
            return self._snapshot_floor(table_dir), {}, 0
        versions = sorted(
            (
                int(f[1:-5])
                for f in os.listdir(cdir)
                if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
            ),
            reverse=True,
        )
        if not versions:
            return self._snapshot_floor(table_dir), {}, 0
        v = versions[0]
        with open(os.path.join(cdir, f"v{v:010d}.json")) as f:
            m = json.load(f)
        n = m.get("n_buckets") or self._table_buckets(table_dir)
        return v, m["buckets"], n

    def _try_commit(
        self, table_dir: str, version: int, buckets_map: dict[str, str],
        n_buckets: int,
    ) -> bool:
        """Publish ``version`` by atomic create-or-fail: the manifest is
        fully written to a temp file first, then hard-linked to its final
        name — ``os.link`` fails with EEXIST if any other writer already
        published this version, which is the optimistic-concurrency loss
        signal. Readers can never observe a partial manifest."""
        cdir = self._commits_dir(table_dir)
        os.makedirs(cdir, exist_ok=True)
        tmp = os.path.join(cdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"version": version, "n_buckets": n_buckets,
                       "buckets": buckets_map}, f)
        try:
            os.link(tmp, os.path.join(cdir, f"v{version:010d}.json"))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _gc_table(self, table_dir: str, grace: float | None = None,
                  keep: int | None = None) -> None:
        """Expire old versions: drop manifests beyond ``snapshot_keep`` and
        delete data commit dirs no kept manifest references. Run only after
        a successful commit, so the newest version always survives. Data
        dirs younger than ``grace`` seconds (default ``gc_grace_seconds``)
        are left behind so concurrent readers pinned to a just-expired
        version finish their scan instead of hitting missing files."""
        if grace is None:
            grace = self.gc_grace_seconds
        keep = max(self.snapshot_keep if keep is None else keep, 1)
        cdir = self._commits_dir(table_dir)
        if not os.path.isdir(cdir):
            return
        manifest_files = sorted(
            (
                f
                for f in os.listdir(cdir)
                if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
            ),
            key=lambda f: int(f[1:-5]),
            reverse=True,
        )
        kept, expired = manifest_files[:keep], manifest_files[keep:]
        # versions pinned by unexpired GRAPH manifests survive table-level
        # retention: expiring them would dangle graph time travel
        pinned = self._pinned_table_versions(table_dir)
        kept += [f for f in expired if int(f[1:-5]) in pinned]
        expired = [f for f in expired if int(f[1:-5]) not in pinned]
        referenced: set[str] = set()
        for mf in kept:
            with open(os.path.join(cdir, mf)) as f:
                for rel in json.load(f)["buckets"].values():
                    parts = rel.split(os.sep)
                    if parts[0] == "data" and len(parts) > 1:
                        referenced.add(parts[1])
        for mf in expired:
            try:
                os.unlink(os.path.join(cdir, mf))
            except OSError:
                pass
        ddir = self._data_dir(table_dir)
        if os.path.isdir(ddir):
            now = time.time()
            for d in os.listdir(ddir):
                if d in referenced:
                    continue
                path = os.path.join(ddir, d)
                try:
                    if grace > 0 and now - os.path.getmtime(path) < grace:
                        continue
                except OSError:
                    pass
                shutil.rmtree(path, ignore_errors=True)

    def _manifest_read(
        self, table_dir: str, manifest: dict[str, str],
        only: list[int] | None = None,
    ) -> DataFrame | None:
        """Read the bucket dirs a manifest references, pruned to ``only``
        (file-LIST pruning — unlisted buckets' files are never even opened,
        strictly stronger than a partition filter)."""
        want = None if only is None else {str(b) for b in only}
        dirs = [
            os.path.join(table_dir, rel)
            for b, rel in manifest.items()
            if want is None or b in want
        ]
        if not dirs:
            return None
        return self.spark.read.option("mergeSchema", "true").parquet(*dirs)

    def _merge_commit(
        self,
        table_dir: str,
        incoming: DataFrame,
        bucket_cols: list[str],
        build,
        indexes: list[IndexConfig] | None = None,
        max_retries: int = 10,
    ) -> None:
        """The optimistic write loop: snapshot the table state (manifest,
        or a legacy layout to migrate), run ``build(existing)`` to produce
        the merged rows for the touched buckets, write them to an immutable
        ``data/<commit-id>/`` dir, and publish version+1. On a lost race
        the orphan data dir is discarded and the merge re-runs against the
        winner's state — concurrent writers to disjoint OR overlapping
        buckets serialize; neither's rows are lost.

        Sizing (module docstring): an incoming row is priced at Spark's
        schema width estimate, committed rows at their bytes on disk, so
        a misestimate at birth is corrected by the next commit's growth
        check."""
        width = incoming._jdf.schema().defaultSize()
        probes: dict[int, dict[int, int]] = {}

        def rows_by_bucket(n: int) -> dict[int, int]:
            # incoming rows per bucket under count n: one job per count
            # this writer meets (a retry against a re-bucketed table
            # re-probes). Under n=1 it is the batch's row count.
            if n not in probes:
                probes[n] = {
                    r[0]: r[1]
                    for r in incoming.groupBy(
                        self._bucket_expr(bucket_cols, n).alias(BUCKET_COL)
                    ).count().collect()
                }
            return probes[n]

        for attempt in range(max_retries):
            version, manifest, n = self._current_commit(table_dir)
            legacy_untouched: dict[str, str] = {}
            migrated_snapshot = False
            if manifest:
                touched = rows_by_bucket(n)
                grown = self._grown_buckets(table_dir, manifest, touched, width, n)
                if grown:
                    # re-bucket: merge against the whole table, every
                    # output bucket lands in this commit's data dir
                    n = grown
                    existing = self._manifest_read(table_dir, manifest)
                    base_map = {}
                else:
                    existing = self._manifest_read(
                        table_dir, manifest, only=list(touched))
                    base_map = {
                        b: rel for b, rel in manifest.items()
                        if int(b) not in touched
                    }
            elif os.path.exists(
                os.path.join(self._buckets_dir(table_dir), "_SUCCESS")
            ):
                # legacy bucketed layout: merge against its pruned read and
                # reference its untouched bucket dirs in-place in v1 —
                # upgrade without rewriting the table
                n = self._table_buckets(table_dir)
                touched = rows_by_bucket(n)
                existing = self._read_buckets(table_dir, only=list(touched))
                prefix = f"{BUCKET_COL}="
                for entry in os.listdir(self._buckets_dir(table_dir)):
                    if entry.startswith(prefix):
                        b = entry[len(prefix):]
                        if int(b) not in touched:
                            legacy_untouched[b] = os.path.join("buckets", entry)
                base_map = dict(legacy_untouched)
            else:
                legacy = self._latest_snapshot(table_dir)
                # first commit or full-snapshot migration: merge against
                # the whole table; every output bucket lands in this
                # commit's data dir
                existing = (
                    self.spark.read.parquet(legacy) if legacy is not None else None
                )
                n = self.n_buckets or _fit_buckets(
                    (self._dir_bytes(legacy) if legacy is not None else 0)
                    + width * sum(rows_by_bucket(1).values()))
                base_map = {}
                migrated_snapshot = legacy is not None
            merged = build(existing)
            out = merged.withColumn(
                BUCKET_COL, self._bucket_expr(bucket_cols, n)
            )
            commit_data, written = self._write_buckets(table_dir, out, indexes)
            if self._try_commit(
                table_dir, version + 1, {**base_map, **written}, n
            ):
                if migrated_snapshot:
                    # superseded full snapshot: its rows now live in this
                    # commit's data dir (the staging write completed before
                    # the publish, so nothing still reads those files)
                    shutil.rmtree(
                        os.path.join(table_dir, "snapshots"), ignore_errors=True
                    )
                self._gc_table(table_dir)
                return
            # lost the race: discard this attempt's files, back off, retry
            shutil.rmtree(commit_data, ignore_errors=True)
            time.sleep(0.02 * (attempt + 1))
        raise RuntimeError(
            f"commit contention on {table_dir}: lost {max_retries} races"
        )

    def _grown_buckets(
        self, table_dir: str, manifest: dict[str, str],
        touched: dict[int, int], width: int, n: int,
    ) -> int | None:
        """The count to re-bucket at when merging ``touched`` (incoming
        rows per bucket, ``width`` bytes each) would leave a bucket above
        twice TARGET_BUCKET_BYTES; None when the table keeps ``n``."""
        def on_disk(b) -> int:
            rel = manifest.get(str(b))
            return self._dir_bytes(os.path.join(table_dir, rel)) if rel else 0

        worst = max(
            (on_disk(b) + width * rows for b, rows in touched.items()),
            default=0)
        if worst <= 2 * TARGET_BUCKET_BYTES:
            return None
        total = sum(on_disk(b) for b in manifest) + width * sum(touched.values())
        return _fit_buckets(total, 2 * n)

    def _write_buckets(
        self, table_dir: str, out: DataFrame,
        indexes: list[IndexConfig] | None,
    ) -> tuple[str, dict[str, str]]:
        """Write ``out`` (carrying BUCKET_COL) as a fresh immutable commit
        data dir; returns (that dir, {bucket_id: table-relative dir})."""
        # one shuffle partition per bucket -> one file per bucket, not
        # one-per-bucket-per-task (small-files at scale); the index sort
        # must come after this shuffle
        out = out.repartition(F.col(BUCKET_COL))
        if indexes:
            out = self._apply_index_layout(out, indexes)
        commit_id = uuid.uuid4().hex
        staging = os.path.join(table_dir, f".staging-{commit_id}")
        out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
        os.makedirs(self._data_dir(table_dir), exist_ok=True)
        commit_data = os.path.join(self._data_dir(table_dir), commit_id)
        written = [
            e for e in os.listdir(staging) if e.startswith(f"{BUCKET_COL}=")
        ]
        shutil.move(staging, commit_data)
        return commit_data, {
            e.split("=", 1)[1]: os.path.join("data", commit_id, e)
            for e in written
        }

    def _latest_snapshot(self, table_dir: str) -> str | None:
        snaps = os.path.join(table_dir, "snapshots")
        if not os.path.isdir(snaps):
            return None
        gens = sorted((int(d) for d in os.listdir(snaps) if d.isdigit()), reverse=True)
        for g in gens:
            d = os.path.join(snaps, str(g))
            if os.path.exists(os.path.join(d, "_SUCCESS")):
                return d
        return None

    @staticmethod
    def _dir_bytes(path: str) -> int:
        total = 0
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in filenames:
                try:
                    total += os.path.getsize(os.path.join(dirpath, fn))
                except OSError:
                    pass
        return total

    def _write_snapshot(self, table_dir: str, df: DataFrame,
                        keep: int | None = None) -> None:
        """Full-table versioned rewrite (schema evolution ops). Writing a
        snapshot supersedes — and therefore invalidates — any bucketed
        layout; the next upsert re-buckets from this snapshot.

        Retention is size-aware: a table whose new snapshot exceeds
        ``snapshot_size_cap_bytes`` keeps only that newest generation —
        ``snapshot_keep`` full copies of a big table is the storage-doubling
        the cap exists to prevent."""
        if keep is None:
            keep = self.snapshot_keep
        snaps = os.path.join(table_dir, "snapshots")
        os.makedirs(snaps, exist_ok=True)
        gens = [int(d) for d in os.listdir(snaps) if d.isdigit()]
        nxt = (max(gens) + 1) if gens else 0
        new_dir = os.path.join(snaps, str(nxt))
        df.write.mode("overwrite").parquet(new_dir)
        if self._dir_bytes(new_dir) > self.snapshot_size_cap_bytes:
            keep = 1
        for g in sorted(gens, reverse=True)[keep - 1:]:
            shutil.rmtree(os.path.join(snaps, str(g)), ignore_errors=True)
        # The snapshot takes the NEXT version number and the counter is
        # persisted in the snapshots dir: evolution supersedes history
        # (pre-evolution pinned versions now raise loudly as expired) but
        # must never RESTART the counter — a restarted counter would let a
        # later commit silently alias a version number an unexpired graph
        # manifest still pins to pre-evolution data (review finding).
        floor = max(self._table_version(table_dir) + 1,
                    self._snapshot_floor(table_dir) + 1)
        with open(os.path.join(snaps, "_floor"), "w") as fh:
            fh.write(str(floor))
        # a full-table snapshot supersedes every incremental layout: drop
        # the legacy bucket dirs AND the manifest commit log + data dirs
        # (the df was fully materialized into the snapshot above, so their
        # files are no longer needed by any plan this write produced)
        shutil.rmtree(self._buckets_dir(table_dir), ignore_errors=True)
        shutil.rmtree(self._commits_dir(table_dir), ignore_errors=True)
        shutil.rmtree(self._data_dir(table_dir), ignore_errors=True)

    def _snapshot_floor(self, table_dir: str) -> int:
        """The version number the latest evolution snapshot carries (0 when
        the table never snapshotted): the version counter's low-water mark
        across commit-log resets."""
        f = os.path.join(table_dir, "snapshots", "_floor")
        try:
            with open(f) as fh:
                return int(fh.read().strip() or 0)
        except OSError:
            return 0

    # ---------------------------------------------------------------- DDL
    def apply_target_schema(self, recreate: bool = False) -> None:
        """Reference Connection.apply_target_schema (db/conn.py:303-319)."""
        if recreate:
            self.delete_graph_structure()
        os.makedirs(self.root, exist_ok=True)
        meta = {
            "vertices": {
                v.name: {
                    "identity": v.identity_fields,
                    "fields": v.field_names,
                    **(
                        {"indexes": [self._index_meta(i) for i in v.indexes]}
                        if v.indexes
                        else {}
                    ),
                }
                for v in self.schema.vertices
            },
            "edges": [
                {
                    "source": e.source,
                    "target": e.target,
                    "relation": e.relation,
                    **(
                        {"indexes": [self._index_meta(i) for i in e.indexes]}
                        if e.indexes
                        else {}
                    ),
                }
                for e in self.schema.edges
            ],
        }
        with open(os.path.join(self.root, "graph_schema.json"), "w") as f:
            json.dump(meta, f, indent=2)

    def clear_data(self) -> None:
        for kind in ("vertices", "edges"):
            shutil.rmtree(os.path.join(self.root, kind), ignore_errors=True)

    def delete_graph_structure(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def introspect_schema(self) -> dict:
        with open(os.path.join(self.root, "graph_schema.json")) as f:
            return json.load(f)

    # ------------------------------------------------------------- indexes
    @staticmethod
    def _index_meta(i: IndexConfig) -> dict:
        return {
            "fields": list(i.fields),
            "type": i.type.value,
            "unique": i.unique,
            "sparse": i.sparse,
        }

    def _vertex_indexes(self, name: str) -> list[IndexConfig]:
        try:
            return self.schema.vertex(name).indexes
        except KeyError:
            return []

    @staticmethod
    def _apply_index_layout(df: DataFrame, indexes: list[IndexConfig]) -> DataFrame:
        """Spark's honest analog of a secondary index (reference
        Connection.define_indexes, db/conn.py:658-674): sort each file by the
        first sortable index's fields so parquet row-group min/max statistics
        give point-lookup data skipping. FULLTEXT has no columnar analog
        (downstream text ops cover that surface)."""
        for idx in indexes:
            if idx.type is IndexType.FULLTEXT:
                continue
            cols = [c for c in idx.fields if c in df.columns]
            if cols:
                return df.sortWithinPartitions(*cols)
        return df

    def verify_unique_indexes(self, name: str) -> None:
        """Enforce declared ``unique`` indexes (the reference delegates this
        to backend DDL; here it is an explicit count == countDistinct check,
        one aggregate per index). ``sparse`` uniqueness ignores null keys."""
        indexes = [i for i in self._vertex_indexes(name) if i.unique]
        if not indexes:
            return
        df = self.read_vertices(name)
        for idx in indexes:
            keyed = df
            if idx.sparse:
                keyed = keyed.na.drop(subset=list(idx.fields), how="any")
            # struct() so null keys count as distinct values rather than
            # being skipped by COUNT(DISTINCT col, ...)
            total, distinct = keyed.select(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.struct(*[F.col(c) for c in idx.fields])).alias("d"),
            ).first()
            if total != distinct:
                raise ValueError(
                    f"unique index {idx.fields} on {name!r} violated: "
                    f"{total} rows, {distinct} distinct keys"
                )

    # -------------------------------------------------------------- write
    def upsert_vertices(self, name: str, df: DataFrame, dry: bool = False) -> None:
        """Match on identity, update-or-insert; newer batch fields win but
        never null-out existing values (merge-on-keys reload semantics).
        Incremental: only the identity-hash buckets the batch touches are
        read and rewritten, and the commit is an optimistic manifest swap
        (see module docstring) — safe under concurrent writers."""
        if dry:
            df.explain()
            return
        self._upsert_vertices(name, df)

    def _upsert_vertices(self, name: str, df: DataFrame) -> None:
        declared = self.schema.vertex(name).identity_fields
        missing = [f for f in declared if f not in df.columns]
        if missing:
            # merging on a SUBSET of the identity would hash rows to
            # different buckets than the table was written with — the
            # existing-row read then misses the real row and the commit
            # publishes a duplicate entity (or collapses distinct ones):
            # silent corruption, so fail loudly instead (review finding)
            raise ValueError(
                f"upsert_vertices({name!r}): batch is missing identity "
                f"column(s) {missing}; merge-on-identity needs every "
                "identity field present")
        identity = list(declared)
        table_dir = self._table_dir("vertices", name)
        # identity-less tables bucket on the full row hash: duplicates still
        # collide in one bucket, so per-bucket dedup == global dedup.
        # sorted() + xxhash64's skip-nulls make the bucket stable when later
        # batches add columns (old rows carry nulls there).
        bucket_cols = identity or sorted(df.columns)

        def build(existing: DataFrame | None) -> DataFrame:
            incoming = df.withColumn("__gen", F.lit(1))
            if existing is not None:
                incoming = existing.withColumn("__gen", F.lit(0)).unionByName(
                    incoming, allowMissingColumns=True
                )
            if identity:
                value_cols = [
                    c for c in incoming.columns if c not in identity + ["__gen"]
                ]
                aggs = [
                    F.max_by(
                        F.col(c), F.when(F.col(c).isNotNull(), F.col("__gen"))
                    ).alias(c)
                    for c in value_cols
                ]
                merged = (
                    incoming.groupBy(*identity).agg(*aggs)
                    if value_cols
                    else incoming.select(*identity).dropDuplicates()
                )
            else:
                merged = incoming.drop("__gen").dropDuplicates()
            return merged.drop("__gen") if "__gen" in merged.columns else merged

        self._merge_commit(
            table_dir, df, bucket_cols, build,
            indexes=self._vertex_indexes(name),
        )

    def insert_edges(
        self, eid: EdgeId, df: DataFrame, on_duplicate: str = "ignore", dry: bool = False
    ) -> None:
        """Reference insert_edges_batch (db/conn.py:406-441): ``ignore`` keeps
        the first occurrence of a duplicate tuple, ``upsert`` lets new
        property values replace old ones."""
        if dry:
            df.explain()
            return
        self._insert_edges(eid, df, on_duplicate)

    def _insert_edges(
        self, eid: EdgeId, df: DataFrame, on_duplicate: str = "ignore"
    ) -> None:
        table_dir = self._table_dir("edges", eid.table_name())
        key_cols = [c for c in df.columns if c.startswith(("_src_", "_dst_"))]
        if "_relation" in df.columns:
            key_cols.append("_relation")
        edge = self.schema.edge(eid.source, eid.target, eid.relation) if self._declared(eid) else None
        if edge is not None and edge.identities:
            key_cols += [c for c in edge.identities if c in df.columns]
        bucket_cols = key_cols or sorted(df.columns)

        def build(existing: DataFrame | None) -> DataFrame:
            incoming = df.withColumn("__gen", F.lit(1))
            passthrough = None
            if existing is not None:
                retained = [
                    c for c in existing.columns
                    if c.startswith(("_src_", "_dst_")) and c not in key_cols
                ]
                incoming = existing.withColumn("__gen", F.lit(0)).unionByName(
                    incoming, allowMissingColumns=True
                )
                if retained:
                    # the table retains secondary-identity key columns (a
                    # re-keyed table after a differently-keyed merge /
                    # identity replacement). Rows whose PRIMARY key on
                    # either side is all-NULL are addressed only through
                    # those retained columns — grouping them by the primary
                    # key would collapse distinct endpoints under NULL==
                    # NULL, so they bypass the merge untouched (an incoming
                    # batch keyed on the primary identity cannot address
                    # them anyway).
                    side_null = []
                    for pre in ("_src_", "_dst_"):
                        side = [c for c in key_cols if c.startswith(pre)]
                        if side:
                            cond = F.col(side[0]).isNull()
                            for c in side[1:]:
                                cond = cond & F.col(c).isNull()
                            side_null.append(cond)
                    if side_null:
                        bypass = side_null[0]
                        for c in side_null[1:]:
                            bypass = bypass | c
                        passthrough = (incoming.filter(bypass)
                                       .drop("__gen").dropDuplicates())
                        incoming = incoming.filter(~bypass)
            value_cols = [
                c for c in incoming.columns if c not in key_cols + ["__gen"]
            ]
            if value_cols:
                # upsert = never-null-out merge, matching upsert_vertices: a
                # NULL in the incoming batch must not erase an existing value,
                # so the max_by ordering is gated on the value being non-null.
                if on_duplicate == "upsert":
                    aggs = [
                        F.max_by(
                            F.col(c), F.when(F.col(c).isNotNull(), F.col("__gen"))
                        ).alias(c)
                        for c in value_cols
                    ]
                else:
                    # ignore = keep the existing row wholesale. All columns
                    # share ONE ordering (so the winner is a consistent row,
                    # not a per-column mix), and intra-batch ties (__gen
                    # equal) break on a value hash — deterministic regardless
                    # of partitioning.
                    order = F.struct(
                        (-F.col("__gen")).alias("g"),
                        F.xxhash64(*[F.col(c) for c in value_cols]).alias("h"),
                    )
                    aggs = [F.max_by(F.col(c), order).alias(c) for c in value_cols]
                merged = incoming.groupBy(*key_cols).agg(*aggs)
            else:
                merged = incoming.select(*key_cols).dropDuplicates()
            if passthrough is not None:
                merged = merged.unionByName(
                    passthrough, allowMissingColumns=True)
            return merged

        self._merge_commit(
            table_dir, df, bucket_cols, build,
            indexes=edge.indexes if edge is not None else None,
        )

    def _declared(self, eid: EdgeId) -> bool:
        try:
            self.schema.edge(eid.source, eid.target, eid.relation)
            return True
        except KeyError:
            return False

    def write_batch(self, *batches: GraphBatch, dry: bool = False) -> None:
        """Write every table of ``batches``, then publish ONE graph-level
        commit pinning the per-table versions — a reader going through
        :meth:`as_view_at` sees old-graph or new-graph, never new
        vertices with old edges (the torn-snapshot gap per-table commits
        alone leave open; the reference writes collections independently,
        hq/db_writer.py:149-204, so this exceeds parity).

        LANES: each table is one lane that applies that table's frames in
        the order the batches give them, exactly as consecutive
        single-table writes would (a later vertex frame's non-null values
        win; an ``ignore`` edge keeps its first tuple). Distinct tables
        are written concurrently, on min(#lanes, ``defaultParallelism``)
        driver threads — the reference's per-collection parallel upserts
        (hq/db_writer.py:393-504). Each lane inherits the caller's Spark
        local properties (job group, description, scheduler pool), so
        ``cancelJobGroup`` and job attribution see every write job (with
        pinned threads off, lanes run without that copy, as any Python
        thread would). Lanes call the private single-table bodies, so the
        public ``upsert_vertices`` / ``insert_edges`` never run on a lane
        thread. Every frame stays reachable until the call returns: a
        resource's compile checkpoint lives as long as its batch.

        FAILURE: every lane runs to completion (no thread outlives the
        call); then the error of the first failing lane, in lane order, is
        raised and no graph version is published. Tables whose lanes
        succeeded keep their committed table versions, which the next
        graph commit picks up — a retry is idempotent by merge-on-identity.

        ``dry=True`` explains each frame serially, on the caller's thread,
        through the public ``dry`` methods, and writes nothing; a call
        with no batch publishes nothing.

        LINEARIZATION under CONCURRENT ``write_batch`` callers (documented
        contract, property-tested in
        tests/test_store_query.py::test_concurrent_write_batch_linearization):
        each published graph version is a consistent point-in-time
        snapshot of COMMITTED per-table versions, and pinned table
        versions are monotonically non-decreasing across graph versions —
        but a version published while two calls interleave may pin a MIX
        of the two calls' tables (each table individually complete for
        the rows it committed). Call-boundary atomicity is guaranteed
        only per writer: the caller's own commit (and every later one)
        contains all of its batches. Writers needing batch-aligned
        versions serialize externally (foreachBatch already is — see
        streaming.stream_ingest and the batch-alignment test)."""
        if dry:
            for batch in batches:
                for name, df in batch.vertices.items():
                    self.upsert_vertices(name, df, dry=True)
                for eid, df in batch.edges.items():
                    self.insert_edges(eid, df, dry=True)
            return
        if not batches:
            return
        # lane per table dir: one writer per table, so lanes never race
        # each other's optimistic commits
        lanes: dict[str, list] = {}
        for batch in batches:
            for name, df in batch.vertices.items():
                lanes.setdefault(self._table_dir("vertices", name), []).append(
                    functools.partial(self._upsert_vertices, name, df))
            for eid, df in batch.edges.items():
                lanes.setdefault(
                    self._table_dir("edges", eid.table_name()), []).append(
                    functools.partial(self._insert_edges, eid, df))
        if lanes:
            workers = min(len(lanes), self.spark.sparkContext.defaultParallelism)
            with ThreadPoolExecutor(max_workers=workers) as pool:
                # wrapped per lane: each lane gets its own copy of the
                # caller's local properties, which Spark mutates per job
                futures = [
                    pool.submit(_inheriting(self.spark, _run_lane), writes)
                    for writes in lanes.values()
                ]
            errors = [e for f in futures if (e := f.exception()) is not None]
            if errors:
                raise errors[0]
        self.commit_graph()

    # ------------------------------------------- graph-level root manifest
    def _graph_commits_dir(self) -> str:
        return os.path.join(self.root, "commits")

    def _table_key(self, table_dir: str) -> str:
        return os.path.relpath(table_dir, self.root)

    def _table_version(self, table_dir: str) -> int:
        return self._current_manifest(table_dir)[0]

    def _all_table_dirs(self) -> list[str]:
        out = []
        for kind in ("vertices", "edges"):
            kdir = os.path.join(self.root, kind)
            if not os.path.isdir(kdir):
                continue
            for name in sorted(os.listdir(kdir)):
                d = os.path.join(kdir, name)
                if os.path.isdir(d):
                    out.append(d)
        return out

    def graph_versions(self) -> list[int]:
        """Committed (unexpired) graph-level versions, ascending."""
        gdir = self._graph_commits_dir()
        if not os.path.isdir(gdir):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(gdir)
            if f.startswith("g") and f.endswith(".json") and f[1:-5].isdigit()
        )

    def _graph_manifest(self, version: int) -> dict[str, int]:
        path = os.path.join(self._graph_commits_dir(), f"g{version:010d}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"graph version {version} is not committed or has been "
                f"expired (kept: {self.snapshot_keep})")
        with open(path) as f:
            return json.load(f)["tables"]

    def commit_graph(self, max_retries: int = 10) -> int:
        """Publish an atomic graph-level version: ONE manifest mapping
        every table (``vertices/<name>``, ``edges/<table>``) to its
        current committed per-table version. The same hard-link
        create-or-fail protocol as table commits; on a lost race the
        snapshot is re-taken (per-table versions only grow, so the
        retry's map is at least as new as the winner's). Returns the
        published graph version."""
        for attempt in range(max_retries):
            tables = {
                self._table_key(d): v
                for d in self._all_table_dirs()
                if (v := self._table_version(d)) > 0
            }
            versions = self.graph_versions()
            nxt = (versions[-1] + 1) if versions else 1
            gdir = self._graph_commits_dir()
            os.makedirs(gdir, exist_ok=True)
            tmp = os.path.join(gdir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump({"version": nxt, "tables": tables}, f)
            try:
                os.link(tmp, os.path.join(gdir, f"g{nxt:010d}.json"))
                self._gc_graph()
                return nxt
            except FileExistsError:
                time.sleep(0.02 * (attempt + 1))
            finally:
                os.unlink(tmp)
        raise RuntimeError(
            f"graph commit contention on {self.root}: "
            f"lost {max_retries} races")

    def _gc_graph(self) -> None:
        """Expire graph manifests beyond ``snapshot_keep`` — the pinned
        per-table versions of KEPT graph manifests are protected from
        per-table expiration by :meth:`_pinned_table_versions`."""
        keep = max(self.snapshot_keep, 1)
        gdir = self._graph_commits_dir()
        if not os.path.isdir(gdir):
            return
        files = sorted(
            (f for f in os.listdir(gdir)
             if f.startswith("g") and f.endswith(".json")
             and f[1:-5].isdigit()),
            key=lambda f: int(f[1:-5]), reverse=True)
        for f in files[keep:]:
            try:
                os.unlink(os.path.join(gdir, f))
            except OSError:
                pass

    def _pinned_table_versions(self, table_dir: str) -> set[int]:
        """Per-table versions any unexpired graph manifest still pins —
        table-level GC must keep these manifests (and their data dirs)
        alive or graph time travel would dangle."""
        key = self._table_key(table_dir)
        pinned: set[int] = set()
        for gv in self.graph_versions():
            try:
                pinned.add(self._graph_manifest(gv).get(key, 0))
            except (OSError, KeyError, ValueError):
                continue
        pinned.discard(0)
        return pinned

    def read_vertices_at_graph(self, name: str, graph_version: int) -> DataFrame:
        """The vertex table exactly as pinned by graph-level
        ``graph_version`` (raises if the graph never committed the
        table)."""
        return self._read_at_graph(
            self._table_dir("vertices", name), graph_version)

    def read_edges_at_graph(self, eid: EdgeId, graph_version: int) -> DataFrame:
        return self._read_at_graph(
            self._table_dir("edges", eid.table_name()), graph_version)

    def _read_at_graph(self, table_dir: str, graph_version: int) -> DataFrame:
        tables = self._graph_manifest(graph_version)
        key = self._table_key(table_dir)
        if key not in tables:
            raise FileNotFoundError(
                f"{key} is not part of graph version {graph_version}")
        return self._read_at(table_dir, tables[key])

    def as_view_at(self, graph_version: int | None = None) -> "GraphView":
        """A CONSISTENT graph snapshot: every table read at the version
        pinned by one graph-level commit (latest by default) — immune to
        concurrent writers, unlike :meth:`as_view`, which reads each
        table's newest version independently."""
        from graflo_spark.query import GraphView

        if graph_version is None:
            versions = self.graph_versions()
            if not versions:
                raise FileNotFoundError(
                    f"no graph-level commits under {self.root}; write via "
                    "write_batch or call commit_graph() first")
            graph_version = versions[-1]
        tables = self._graph_manifest(graph_version)
        vertices = {}
        edges = {}
        by_table = {e.edge_id.table_name(): e.edge_id for e in self.schema.edges}
        for key, v in tables.items():
            kind, name = key.split(os.sep, 1)
            df = self._read_at(os.path.join(self.root, key), v)
            if kind == "vertices":
                vertices[name] = df
            elif name in by_table:
                edges[by_table[name]] = df
        return GraphView(vertices=vertices, edges=edges, schema=self.schema)

    # ------------------------------------------------- maintenance / reads
    def compact(self, kind: str, name: str) -> None:
        """Rewrite the table's current contents as ONE fresh commit whose
        data dir holds every bucket — the small-files defense: a long run
        of incremental upserts leaves each bucket's rows scattered across
        that many commit dirs' files, and scans pay per-file open costs.
        The bucket count is re-sized from the table's bytes on disk, so a
        table that was written with more buckets than it needs shrinks.
        Published through the same optimistic protocol as any write
        (concurrent upserts serialize against it); after the old versions
        expire, the superseded fragments are garbage-collected."""
        table_dir = self._table_dir(kind, name)
        if kind == "vertices":
            indexes = self._vertex_indexes(name)
        else:
            indexes = next(
                (e.indexes for e in self.schema.edges
                 if e.edge_id.table_name() == name), None)
        for attempt in range(10):
            version, manifest = self._current_manifest(table_dir)
            if not manifest:
                return  # nothing committed yet (legacy layouts compact on
                # first upsert instead)
            n = _fit_buckets(sum(
                self._dir_bytes(os.path.join(table_dir, rel))
                for rel in manifest.values()))
            df = self._manifest_read(table_dir, manifest)
            out = df.withColumn(
                BUCKET_COL,
                self._bucket_expr(self._bucket_cols_of(table_dir, df), n),
            )
            commit_data, written = self._write_buckets(table_dir, out, indexes)
            if self._try_commit(table_dir, version + 1, written, n):
                self._gc_table(table_dir)
                return
            shutil.rmtree(commit_data, ignore_errors=True)
            time.sleep(0.02 * (attempt + 1))
        raise RuntimeError(f"compact contention on {table_dir}")

    def _bucket_cols_of(self, table_dir: str, df: DataFrame) -> list[str]:
        """Bucket columns a table was written with: vertex identity / edge
        key prefix convention, falling back to the full sorted row like the
        write path."""
        base = os.path.basename(table_dir)
        kind = os.path.basename(os.path.dirname(table_dir))
        if kind == "vertices":
            identity = [
                f for f in self.schema.vertex(base).identity_fields
                if f in df.columns
            ]
            if identity:
                return identity
        else:
            keys = [c for c in df.columns if c.startswith(("_src_", "_dst_"))]
            if "_relation" in df.columns:
                keys.append("_relation")
            # insert_edges buckets on key prefix + declared edge identities;
            # compaction must hash with the SAME columns or later upserts
            # prune their existing-row read to the wrong buckets and double
            # up keys.
            edge = next(
                (e for e in self.schema.edges
                 if e.edge_id.table_name() == base), None)
            if edge is not None and edge.identities:
                keys += [c for c in edge.identities if c in df.columns]
            if keys:
                return keys
        return sorted(df.columns)

    def table_versions(self, kind: str, name: str) -> list[int]:
        """Committed (unexpired) versions of a table, ascending."""
        cdir = self._commits_dir(self._table_dir(kind, name))
        if not os.path.isdir(cdir):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(cdir)
            if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
        )

    def read_vertices_at(self, name: str, version: int) -> DataFrame:
        """Time travel: the vertex table exactly as committed at
        ``version`` (must still be within the retention window)."""
        return self._read_at(self._table_dir("vertices", name), version)

    def read_edges_at(self, eid: EdgeId, version: int) -> DataFrame:
        return self._read_at(
            self._table_dir("edges", eid.table_name()), version)

    def _read_at(self, table_dir: str, version: int) -> DataFrame:
        path = os.path.join(
            self._commits_dir(table_dir), f"v{version:010d}.json")
        if not os.path.exists(path):
            # the snapshot-era version: between a schema-evolution
            # snapshot and the next upsert, the snapshot IS the version
            # the counter floor names — graph manifests committed in that
            # window must stay readable
            if version == self._snapshot_floor(table_dir):
                latest = self._latest_snapshot(table_dir)
                if latest is not None:
                    return self.spark.read.parquet(latest)
            raise FileNotFoundError(
                f"version {version} of {table_dir} is not committed or has "
                f"been expired (kept: {self.snapshot_keep})")
        with open(path) as f:
            manifest = json.load(f)["buckets"]
        df = self._manifest_read(table_dir, manifest)
        if df is None:
            raise FileNotFoundError(f"version {version} has no data")
        return df

    def expire_versions(self, kind: str, name: str,
                        keep: int | None = None) -> None:
        """Iceberg-style snapshot expiration, public handle: drop all but
        the newest ``keep`` manifests (default ``snapshot_keep``) and
        delete data dirs nothing kept references."""
        # keep rides as a parameter — mutating self.snapshot_keep here
        # would leak the temporary retention into a concurrent writer's
        # post-commit _gc_table on ANOTHER table (review finding)
        self._gc_table(self._table_dir(kind, name), grace=0.0, keep=keep)

    # --------------------------------------------------------------- read
    def _read_table(self, table_dir: str, label: str) -> DataFrame:
        _v, manifest = self._current_manifest(table_dir)
        if manifest:
            df = self._manifest_read(table_dir, manifest)
            if df is not None:
                return df
        if os.path.exists(os.path.join(self._buckets_dir(table_dir), "_SUCCESS")):
            return self._read_buckets(table_dir)
        latest = self._latest_snapshot(table_dir)
        if latest is None:
            raise FileNotFoundError(f"{label} is empty")
        return self.spark.read.parquet(latest)

    def read_vertices(self, name: str) -> DataFrame:
        return self._read_table(
            self._table_dir("vertices", name), f"vertex table {name}"
        )

    def read_edges(self, eid: EdgeId) -> DataFrame:
        return self._read_table(
            self._table_dir("edges", eid.table_name()),
            f"edge table {eid.table_name()}",
        )

    def edge_ids(self) -> list[EdgeId]:
        out = []
        edir = os.path.join(self.root, "edges")
        if not os.path.isdir(edir):
            return out
        for e in self.schema.edges:
            if os.path.isdir(os.path.join(edir, e.edge_id.table_name())):
                out.append(e.edge_id)
        return out

    def vertex_names(self) -> list[str]:
        vdir = os.path.join(self.root, "vertices")
        if not os.path.isdir(vdir):
            return []
        return [v.name for v in self.schema.vertices if os.path.isdir(os.path.join(vdir, v.name))]

    def extra_weights(
        self,
        edge_df: DataFrame,
        vertex: str,
        on: dict[str, str],
        fields: list[str],
        prefix: str | None = None,
    ) -> DataFrame:
        """DB-round-trip edge enrichment (reference extra_weights,
        hq/db_writer.py:355-387 + fetch_present_documents): join edges
        against the *persisted* vertex table — dimension side broadcast."""
        from graflo_spark.compiler import add_vertex_weights

        return add_vertex_weights(
            edge_df, self.read_vertices(vertex), on=on, fields=fields,
            prefix=prefix or vertex,
        )

    def as_view(self) -> "GraphView":
        from graflo_spark.query import GraphView

        return GraphView(
            vertices={n: self.read_vertices(n) for n in self.vertex_names()},
            edges={eid: self.read_edges(eid) for eid in self.edge_ids()},
            schema=self.schema,
        )
