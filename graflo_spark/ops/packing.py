"""Sequence packing for training pipelines: concatenate documents in a
deterministic global order and slice the token stream into fixed-size
chunks (GPT-style concat-and-chunk packing). Each document learns its
global token offsets, then emits one row per training chunk it overlaps,
with in-document slice bounds — exactly what a tokenize-and-pack job needs
to build fixed-length sequences without ever materializing the
concatenated stream.

Scale design: a naive ``Window.orderBy(key)`` global cumulative sum drags
the whole corpus into ONE partition. Here the prefix sum is two-phase over
DETERMINISTIC order-key buckets: approximate quantile boundaries of the
order key (one cheap driver-side pass) become literals, so a row's bucket
``_pid`` is a pure function of its order key — immune to partitioner
sampling, exchange-reuse config, and re-evaluation (a
``repartitionByRange`` + ``spark_partition_id`` formulation is NOT: its
two plan branches each sample range boundaries independently when
``spark.sql.exchange.reuse`` is off, silently misaligning offsets). The
bucketed window cumsum then costs exactly ONE corpus shuffle (the
window's hash exchange on ``_pid``), and the per-bucket totals branch
reduces map-side to n_buckets rows before its own tiny exchange — the
corpus is scanned twice (column-pruned) but shuffled once.

Reference analogue: none (the reference has no packing operator);
north-star training-pipeline extension per the task brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from graflo_spark.ops.util import Checkpointer


def token_offsets(
    df: DataFrame,
    token_col: str,
    order_col: str,
    start_col: str = "tok_start",
    end_col: str = "tok_end",
    base_offset: int = 0,
    n_buckets: int | None = None,
) -> DataFrame:
    """Global token offsets ``[tok_start, tok_end)`` of every row under the
    total order given by ``order_col`` (numeric and unique — ties would
    make the order, and thus the offsets, nondeterministic). Adds the two
    columns; equivalent to the single-node ``SUM(tokens) OVER (ORDER BY
    order_col)`` without the single-partition bottleneck.

    ``n_buckets`` bounds per-task state (rows/bucket ~ corpus/n_buckets)
    and costs O(n_buckets) comparisons per row for the bucket id — keep it
    O(1000s); default is the session's parallelism. NOTE: computing the
    boundaries runs ``approxQuantile`` EAGERLY at composition time (one
    narrow scan job) — the returned frame is lazy as usual, but building
    it is not free.

    ``base_offset`` makes the operator resumable for incremental ingest:
    pass the previous batch's running total (its ``max(tok_end)``) and the
    new batch's stream continues where the last one stopped — batch N+1's
    chunks follow batch N's without re-packing history."""
    from pyspark.sql.types import NumericType

    # fail at entry with the column's name, not deep inside approxQuantile
    # (which throws an opaque error on non-numeric columns): a corpus with
    # string doc ids hits this the moment someone defaults order to id_col
    dt = df.schema[order_col].dataType
    if not isinstance(dt, NumericType):
        raise ValueError(
            f"token_offsets: order column {order_col!r} must be numeric "
            f"(got {dt.simpleString()}); hash string keys to a numeric "
            f"surrogate (e.g. xxhash64) or pass a numeric order_col"
        )
    n = n_buckets or max(df.sparkSession.sparkContext.defaultParallelism, 2)
    # quantile boundaries -> literals: the bucket id is a pure function of
    # the ORDER KEY, identical in every plan branch and every re-evaluation
    probs = [i / n for i in range(1, n)]
    bounds = sorted(set(df.approxQuantile(order_col, probs, 0.001)))
    if bounds:
        # Plain sum-of-comparisons, NOT a higher-order function: a lambda
        # holding an outer column reference (F.col(order_col) inside
        # F.aggregate) is not rewritten by DeduplicateRelations when this
        # frame is consumed in two plan branches over a reused LogicalRDD
        # (the foreachBatch case) — Spark 4.1 then fails binding with
        # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. The expression tree below is
        # the same O(n_buckets) comparisons per row, whole-stage codegen'd.
        v = F.col(order_col).cast("double")
        pid = F.lit(0)
        for b in bounds:
            pid = pid + F.when(v >= F.lit(float(b)), 1).otherwise(0)
    else:  # empty/tiny frame: one bucket
        pid = F.lit(0)
    keyed = df.withColumn("_pid", pid)
    w_local = (
        W.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = keyed.withColumn(
        "_local_end", F.sum(F.col(token_col).cast("long")).over(w_local)
    )
    # Per-bucket totals: partial+final aggregate straight off the scan —
    # reduces to n_buckets rows map-side, so this branch never shuffles
    # the corpus; the prefix window runs over n_buckets rows.
    w_prefix = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    prefix = (
        keyed.groupBy("_pid")
        .agg(F.sum(F.col(token_col).cast("long")).alias("_ptotal"))
        .withColumn(
            "_poffset", F.coalesce(F.sum("_ptotal").over(w_prefix), F.lit(0))
        )
        .select("_pid", "_poffset")
    )
    return (
        local.join(F.broadcast(prefix), "_pid")
        .withColumn(
            end_col,
            F.col("_local_end") + F.col("_poffset") + F.lit(int(base_offset)),
        )
        .withColumn(start_col, F.col(end_col) - F.col(token_col).cast("long"))
        .drop("_pid", "_local_end", "_poffset")
    )


def pack_chunks(
    df: DataFrame,
    id_col: str,
    token_col: str,
    chunk_tokens: int,
    order_col: str | None = None,
    base_offset: int = 0,
) -> DataFrame:
    """Assign documents to fixed-size training chunks: concatenate all
    documents in ``order_col`` order (default: ``id_col``) and cut the
    token stream every ``chunk_tokens``. Returns one row per (document,
    chunk) overlap:

        (id, chunk_id, tok_start, tok_end, doc_tok_start, doc_tok_end)

    where ``doc_tok_[start,end)`` is the in-document token slice that lands
    in ``chunk_id`` — a downstream tokenizer job slices each text by these
    bounds and concatenates within chunk_id to emit fixed-length sequences.
    Zero-token documents emit no rows (nothing to pack). The chunk fan-out
    is a native ``sequence``+``explode`` over the chunk index range — a
    document spanning k chunks emits k rows, and k is bounded by
    ``tokens/chunk_tokens + 1``."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    out = token_offsets(
        df, token_col, order_col or id_col, base_offset=base_offset
    )
    b = F.lit(chunk_tokens)
    # integral `div`, not float division: exact past 2^53 tokens
    first = F.expr(f"tok_start div {int(chunk_tokens)}")
    last = F.expr(f"(tok_end - 1) div {int(chunk_tokens)}")
    exploded = out.filter(F.col(token_col) > 0).select(
        F.col(id_col).alias("id"),
        "tok_start",
        "tok_end",
        F.explode(F.sequence(first, last)).alias("chunk_id"),
    )
    lo = F.greatest(F.col("tok_start"), F.col("chunk_id") * b)
    hi = F.least(F.col("tok_end"), (F.col("chunk_id") + 1) * b)
    return exploded.select(
        "id",
        "chunk_id",
        "tok_start",
        "tok_end",
        (lo - F.col("tok_start")).alias("doc_tok_start"),
        (hi - F.col("tok_start")).alias("doc_tok_end"),
    )


class PackingStore:
    """Incremental packing over arriving batches (the shape of a daily
    crawl or a ``foreachBatch`` streaming sink): persists the running token
    total so each batch's chunks CONTINUE the global stream — batch N+1
    starts exactly where batch N ended, without re-packing history. Mirrors
    the incremental dedup store's design: tiny driver-side state, crash-safe
    via write-then-rename.

    Spans land under ``<path>/spans/batch=<seq>/`` — one subdir per batch,
    written with mode OVERWRITE, where ``<seq>`` comes from the committed
    state file. That makes the spans write IDEMPOTENT for BOTH crash
    windows: if the spans write succeeds but the commit doesn't (crash
    between the two), the retry re-runs the SAME batch seq and REPLACES
    the orphaned subdir instead of appending a second copy; and a batch
    REDELIVERED after its commit (the foreachBatch at-least-once window)
    is recognized by its repeated ``batch_id`` and re-runs under its
    ORIGINAL seq and ORIGINAL base offset (the pre-batch running total
    rides the commit file), overwriting its own dir with identical rows
    instead of double-packing — no silent duplicate training chunks
    either way. The running total, the batch seq, the batch_id, and the
    pre-batch total commit together in ``<path>/_running_total``
    (atomically replaced). Within one batch, ordering follows
    ``order_col``; ACROSS batches, ordering is arrival order — the
    stream semantics a packer wants."""

    def __init__(self, spark, path: str, chunk_tokens: int,
                 id_col: str = "doc_id", token_col: str = "n_tok",
                 order_col: str | None = None) -> None:
        import os

        self.spark = spark
        self.path = path
        self.chunk_tokens = chunk_tokens
        self.id_col = id_col
        self.token_col = token_col
        self.order_col = order_col or id_col
        os.makedirs(path, exist_ok=True)
        # Track per-batch localCheckpoint blocks across pack_batch calls
        # (same convention as MinHashDedupStore): each slot keeps its last
        # two generations, so a long-running foreachBatch stream doesn't
        # pin one dead block set per micro-batch. The spans frame RETURNED
        # by pack_batch stays readable through the next pack_batch call;
        # it is also always re-readable from disk via spans().
        self._ck = Checkpointer(spark)

    def _total_file(self) -> str:
        import os

        return os.path.join(self.path, "_running_total")

    def _state(self) -> tuple[int, int, str | None, int]:
        """(running_total, next_batch_seq, last committed batch_id or
        None, running_total BEFORE the last committed batch) from the
        commit file. Legacy single-integer files (pre-idempotency format)
        read as seq 0; two-line files (pre-replay format) as bid None —
        both keep working unchanged."""
        import os

        f = self._total_file()
        if not os.path.exists(f):
            return 0, 0, None, 0
        with open(f) as fh:
            lines = fh.read().splitlines()
        total = int(lines[0].strip()) if lines and lines[0].strip() else 0
        seq = (int(lines[1].strip())
               if len(lines) > 1 and lines[1].strip() else 0)
        bid = lines[2] if len(lines) > 2 and lines[2] != "" else None
        prev = (int(lines[3].strip())
                if len(lines) > 3 and lines[3].strip() else total)
        return total, seq, bid, prev

    def running_total(self) -> int:
        return self._state()[0]

    def _migrate_legacy_spans(self) -> None:
        """Pre-idempotency stores wrote span parquet files FLAT under
        ``spans/``; mixing those with ``batch=<seq>/`` subdirs breaks Spark
        partition discovery (conflicting directory depths), and a seq-0
        overwrite would silently replace the legacy history. Move the flat
        files into ``spans/batch=0/`` once, with the bumped state file
        (total, max(seq, 1)) committed BEFORE the move: a crash after the
        commit but before/mid-move leaves the flat files in place, so the
        retry re-triggers the (idempotent) move — whereas committing after
        the move would let a crash in between leave seq=0 with no flat
        files, and the next batch's mode-overwrite of ``batch=0`` would
        destroy the migrated history. A store whose ``_running_total`` file
        is missing entirely (crash between the legacy spans write and its
        total commit) recomputes the total from the spans' max global
        ``tok_end`` so the next batch's offsets continue after — not
        overlap — the migrated history."""
        import os
        import tempfile

        sdir = os.path.join(self.path, "spans")
        if not os.path.isdir(sdir):
            return
        flat = [
            e for e in os.listdir(sdir)
            if os.path.isfile(os.path.join(sdir, e))
        ]
        if not any(e.endswith(".parquet") for e in flat):
            return
        if os.path.exists(self._total_file()):
            total, seq, _bid, _prev = self._state()
        else:
            total = int(
                self.spark.read.parquet(sdir)
                .agg(F.max(F.col("tok_end").cast("long"))).first()[0] or 0
            )
            seq = 0
        fd, tmp = tempfile.mkstemp(dir=self.path)
        with os.fdopen(fd, "w") as fh:
            fh.write(f"{total}\n{max(seq, 1)}\n")
        os.replace(tmp, self._total_file())
        dest = os.path.join(sdir, "batch=0")
        os.makedirs(dest, exist_ok=True)
        for e in flat:
            os.replace(os.path.join(sdir, e), os.path.join(dest, e))

    def pack_batch(self, batch: DataFrame, batch_id=None) -> DataFrame:
        """Pack one batch against the persisted running total, write its
        spans under the next batch seq, commit (total, seq+1, batch_id,
        pre-batch total). Returns the batch's spans. The commit happens
        ONLY after the spans write succeeds; because the spans write is a
        mode-overwrite of the seq-keyed subdir, a crash between the two
        makes the retry REPLACE the orphan rather than append a duplicate
        — idempotent, no gap and no double-counted chunks.

        ``batch_id``: stable delivery id (foreachBatch passes its epoch
        id; must not contain a newline). A call repeating the LAST
        committed batch_id re-runs under its ORIGINAL seq AND original
        base offset (the pre-batch running total rides the commit file),
        so the post-commit replay the foreachBatch at-least-once window
        produces overwrites its own span dir with identical rows instead
        of double-packing the batch after the stream — the same guarantee
        as the rest of the store family. Omit batch_id only if the caller
        never re-delivers a committed batch.

        LIFETIME of the returned frame: its checkpoint blocks stay alive
        through the NEXT ``pack_batch`` call and are reclaimed after that
        (two-generation window) — consume it within the batch, or re-read
        from disk via :meth:`spans` which is always valid."""
        import os
        import tempfile

        if batch_id is not None and "\n" in str(batch_id):
            raise ValueError("batch_id must not contain a newline")
        self._restore_spans_if_needed()
        self._migrate_legacy_spans()
        base, seq, last_bid, prev_total = self._state()
        if (batch_id is not None and last_bid is not None
                and str(batch_id) == last_bid and seq > 0):
            # post-commit replay: original seq, original base offset
            seq -= 1
            base = prev_total
        # Pin the batch before packing: token_offsets consumes its input in
        # two plan branches (window cumsum + per-bucket totals) plus an eager
        # quantile probe. Against a foreachBatch micro-batch source the
        # branch-dedup of that plan is unbindable in Spark 4.1
        # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND); an eager localCheckpoint cuts
        # lineage to a stable scan — and evaluates any upstream hygiene chain
        # once instead of three times. Projected first so only the three
        # packing columns are materialized.
        cols = list(dict.fromkeys(
            [self.id_col, self.token_col, self.order_col]))
        batch = self._ck(batch.select(*cols), "batch")
        spans = self._ck(
            pack_chunks(
                batch, self.id_col, self.token_col, self.chunk_tokens,
                order_col=self.order_col, base_offset=base,
            ),
            "spans",
        )
        spans.write.mode("overwrite").parquet(
            os.path.join(self.path, "spans", f"batch={seq}")
        )
        # new total = base + batch token sum (spans may omit 0-token docs)
        batch_tokens = (
            batch.agg(F.sum(F.col(self.token_col).cast("long"))).first()[0]
            or 0
        )
        fd, tmp = tempfile.mkstemp(dir=self.path)
        with os.fdopen(fd, "w") as fh:
            bid = "" if batch_id is None else str(batch_id)
            fh.write(f"{base + int(batch_tokens)}\n{seq + 1}\n"
                     f"{bid}\n{base}\n")
        os.replace(tmp, self._total_file())
        return spans

    def _restore_spans_if_needed(self) -> None:
        """Crash recovery for compact()'s two-rename window (the family
        pattern): a death between the renames leaves the history only
        under ``.old-spans-*`` — restore the newest; sweep stale copies
        once the root is live."""
        import glob
        import os
        import shutil

        root = os.path.join(self.path, "spans")
        olds = sorted(glob.glob(os.path.join(self.path, ".old-spans-*")),
                      key=os.path.getmtime)
        if not glob.glob(os.path.join(root, "batch=*")):
            if olds:
                shutil.rmtree(root, ignore_errors=True)
                os.rename(olds[-1], root)
                olds = olds[:-1]
        for stale in olds:
            if glob.glob(os.path.join(root, "batch=*")):
                shutil.rmtree(stale, ignore_errors=True)

    def compact(self, min_run: int = 4, full: bool = False) -> None:
        """Fold committed span dirs strictly BEFORE the last one with the
        shared size-tiered policy (``_store_compact.tiered_groups``): one
        call's I/O is bounded by the tier that is ready, not by store
        size; ``full=True`` folds everything eligible into one dir. The
        last committed dir is the post-commit replay window (a repeated
        ``batch_id`` re-runs under its original seq and base — pack_batch
        docstring) and the uncommitted in-flight ``batch=<seq>`` dir is
        the pre-commit retry window; both are preserved verbatim, the
        family rule. Span rows are append-only facts — folding only
        re-locates them, so :meth:`spans` and the running total are
        unchanged. SINGLE-WRITER op, between batches; crash-safe via the
        two-rename spans-root swap."""
        import glob
        import os
        import uuid

        from graflo_spark.ops._store_compact import (
            dir_bytes, fold_plan, link_tree, swap_in)

        self._restore_spans_if_needed()
        self._migrate_legacy_spans()
        seq = self._state()[1]
        if seq < 2:
            return
        root = os.path.join(self.path, "spans")
        vals = sorted(int(d.rsplit("=", 1)[1])
                      for d in glob.glob(os.path.join(root, "batch=*")))
        sizes = {v: dir_bytes(os.path.join(root, f"batch={v}"))
                 for v in vals if v < seq - 1}
        groups = fold_plan(sizes, min_run=min_run, full=full)
        if not groups:
            return
        src = self.spark.read.parquet(root)
        staging = os.path.join(self.path,
                               f".compact-spans-{uuid.uuid4().hex}")
        os.makedirs(staging, exist_ok=True)
        folded: set[int] = set()
        for group in groups:
            src.filter(F.col("batch").isin(group)).drop("batch").write \
                .parquet(os.path.join(staging, f"batch={min(group)}"))
            folded.update(group)
        for v in vals:
            if v not in folded:
                link_tree(os.path.join(root, f"batch={v}"),
                          os.path.join(staging, f"batch={v}"))
        swap_in(root, staging,
                os.path.join(self.path, f".old-spans-{uuid.uuid4().hex}"))

    def spans(self) -> DataFrame:
        import os

        self._restore_spans_if_needed()
        self._migrate_legacy_spans()
        # partition discovery surfaces the batch=N dirs as a `batch`
        # column; filter to the COMMITTED window (batch < seq) before
        # dropping it — after a crash between the spans write and the
        # commit, the orphaned in-flight batch=<seq> dir must stay
        # invisible until its retry lands (the family rule; matches
        # SemDedupStore.duplicate_pairs — review finding)
        seq = self._state()[1]
        return self.spark.read.parquet(
            os.path.join(self.path, "spans")
        ).filter(F.col("batch") < F.lit(seq)).drop("batch")


def materialize_chunks(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    joiner: str = " ",
) -> DataFrame:
    """Assemble the actual training sequences: join :func:`pack_chunks`
    spans back to the documents, slice each document's whitespace tokens by
    its in-doc bounds, and concatenate slices within each chunk in stream
    order. Returns ``(chunk_id, n_docs, chunk_text)``.

    Shape: one equi-join on id (the corpus-side shuffle), then a groupBy
    on chunk_id whose per-group payload is bounded by ``chunk_tokens`` —
    sort_array on (tok_start, slice) structs makes the concatenation order
    deterministic regardless of arrival order. Token slicing uses the same
    whitespace split as :func:`graflo_spark.ops.textstats.token_count`; a
    tokenizer-accurate deployment swaps the split for real token ids with
    the identical plan shape.

    If the spans carry a ``split`` column (``prepare_training_data`` emits
    chunk ids that restart at 0 PER SPLIT), grouping automatically includes
    it — train and val chunk 0 are different sequences and must never be
    concatenated together."""
    group_keys = (["split"] if "split" in spans.columns else []) + ["chunk_id"]
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    piece = F.array_join(
        F.slice(
            tokens,
            (F.col("doc_tok_start") + 1).cast("int"),
            (F.col("doc_tok_end") - F.col("doc_tok_start")).cast("int"),
        ),
        joiner,
    )
    sliced = spans.join(
        docs.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
    ).select(
        *group_keys,
        F.struct(F.col("tok_start").alias("pos"), piece.alias("piece")).alias(
            "p"
        ),
    )
    return (
        sliced.groupBy(*group_keys)
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .select(
            *group_keys,
            F.size("ps").alias("n_docs"),
            F.array_join(F.transform("ps", lambda s: s["piece"]), joiner).alias(
                "chunk_text"
            ),
        )
    )


def sliding_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 256,
    stride: int | None = None,
) -> DataFrame:
    """Per-document overlapping token windows — the RAG/embedding chunker
    (every retrieval pipeline's unit of indexing), distinct from
    :func:`pack_chunks` which CONCATENATES documents into training
    sequences. Window i covers tokens ``[i*stride, i*stride+chunk_tokens)``
    of the whitespace tokenization; the last window is the remainder (never
    empty, never duplicated: a doc emits ``ceil(max(n-overlap,1)/stride)``
    windows, so a doc shorter than ``chunk_tokens`` emits exactly one).
    ``stride`` defaults to ``chunk_tokens`` (disjoint windows); a smaller
    stride overlaps neighbors by ``chunk_tokens - stride`` tokens.

    Returns ``(id, chunk_id, n_chunks, chunk_text, n_chunk_tokens)``.
    NULL and zero-token texts emit nothing (the quality gate's concern,
    not the chunker's).

    100 TB shape: one zero-shuffle map pass — tokenize once, fan out with
    ``sequence`` + ``slice`` inside the row (array ops, no Python), then
    one explode. Output volume is input volume times the overlap factor
    ``chunk_tokens/stride`` — the caller's dial, visible in the plan as
    nothing but a Generate."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    stride = chunk_tokens if stride is None else stride
    if not 0 < stride <= chunk_tokens:
        raise ValueError("stride must be in (0, chunk_tokens]")
    t = F.col(text_col)
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != F.lit(""))
    n = F.size(toks)
    # number of windows: ceil(max(n - overlap, 1) / stride) — the last
    # window starts at the last multiple of stride strictly below
    # n - overlap, so every token is covered and no window is empty
    overlap = chunk_tokens - stride
    n_chunks = F.ceil(
        F.greatest(n - F.lit(overlap), F.lit(1)).cast("double")
        / F.lit(float(stride))
    ).cast("int")
    chunked = (
        df.filter(t.isNotNull())
        .select(
            F.col(id_col),
            toks.alias("__toks"),
            n_chunks.alias("n_chunks"),
        )
        .filter(F.size("__toks") > 0)
        .select(
            id_col,
            "n_chunks",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_chunks") - 1),
                    lambda i: F.struct(
                        i.alias("chunk_id"),
                        F.slice(
                            "__toks", i * stride + 1, chunk_tokens
                        ).alias("__w"),
                    ),
                )
            ).alias("c"),
        )
    )
    return chunked.select(
        id_col,
        F.col("c.chunk_id").alias("chunk_id"),
        "n_chunks",
        F.array_join("c.__w", " ").alias("chunk_text"),
        F.size("c.__w").alias("n_chunk_tokens"),
    )


def pack_bins(
    df: DataFrame,
    id_col: str,
    token_col: str,
    capacity: int,
    boundaries: list[int] | None = None,
    n_buckets: int = 8,
) -> DataFrame:
    """Doc-boundary-PRESERVING sequence packing: assign whole documents to
    fixed-capacity training bins — no document is ever split across
    sequences (the property :func:`pack_chunks`'s concat-and-chunk stream
    gives up for its efficiency=1.0). The deterministic, SQL-replayable
    scheme: length-bucket documents at ``boundaries`` (each doc costed at
    its bucket CEILING), so a bin holds exactly ``capacity div ceiling``
    docs of its bucket and bin assignment is pure integer arithmetic over
    a deterministic in-bucket rank (tokens DESC, id ASC). Docs longer than
    ``capacity`` land in singleton bins flagged ``oversize=true``
    (downstream truncation policy's problem, not the packer's); zero-token
    docs emit no rows (nothing to pack).

    Returns one row per document: ``(id, n_tokens, bucket, bin_id,
    oversize)`` with globally disjoint bin ids (buckets get contiguous bin
    ranges in bucket order). Efficiency (packed tokens / bin capacity) is
    the caller's one aggregate away — :func:`packing_stats`.

    ``boundaries`` None derives them from ``approxQuantile`` over the
    token counts (eager driver pass, approximate); pass explicit
    boundaries for the deterministic/replayable path — the frozen-literal
    convention the driver oracle uses.

    100 TB shape: ONE shuffle (the per-bucket rank window, partitioned by
    bucket — salt-free because bucket count is small but each bucket's
    rank is a single ordered window; for corpora where one bucket
    dominates, pick more/narrower boundaries: the partition count IS the
    boundary count), one tiny per-bucket aggregate broadcast back, zero
    Python. Compare :func:`pack_bins_ffd` for tighter packing at the cost
    of a driver-side histogram solve.

    Reference analogue: none; padded-length bucketing is the standard
    batching-by-length trick (public: Tensor2Tensor/fairseq batch-by-size
    buckets), here made a deterministic packer.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    n = F.col(token_col).cast("long")
    if boundaries is None:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        qs = df.filter(n > 0).approxQuantile(token_col, probs, 0.001)
        boundaries = sorted({int(q) for q in qs if 0 < q < capacity})
    else:
        boundaries = sorted({int(b) for b in boundaries})
        if boundaries and (boundaries[0] <= 0 or boundaries[-1] > capacity):
            raise ValueError(
                f"boundaries must lie in (0, capacity]: {boundaries}")
    k = len(boundaries)
    # bucket = number of boundaries strictly below n_tokens; its ceiling
    # (bounds[bucket], or capacity for the top bucket) is >= n_tokens by
    # construction. Oversize docs get bucket k+1.
    bucket = F.lit(0)
    for b in boundaries:
        bucket = bucket + F.when(n > F.lit(int(b)), 1).otherwise(0)
    bucket = F.when(n > F.lit(int(capacity)), F.lit(k + 1)).otherwise(bucket)
    ceilings = [int(b) for b in boundaries] + [int(capacity)]
    dpb = {i: int(capacity) // c for i, c in enumerate(ceilings)}
    dpb[k + 1] = 1  # oversize: one doc per bin
    dpb_col = F.lit(1)
    for i, v in dpb.items():
        dpb_col = F.when(F.col("bucket") == i, F.lit(v)).otherwise(dpb_col)
    ranked = (
        df.filter(n > 0)
        .select(
            F.col(id_col).alias("id"),
            n.alias("n_tokens"),
            bucket.alias("bucket"),
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                W.partitionBy("bucket").orderBy(
                    F.col("n_tokens").desc(), F.col("id"))) - 1,
        )
        .withColumn("_local_bin", F.floor(F.col("_rk") / dpb_col))
    )
    # per-bucket bin counts -> contiguous global bases (tiny frame)
    bases = (
        ranked.groupBy("bucket")
        .agg(F.count("*").alias("_cnt"))
        .withColumn("_dpb", dpb_col)
        .withColumn("_nbins", F.ceil(F.col("_cnt") / F.col("_dpb")))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_nbins").over(
                    W.orderBy("bucket").rowsBetween(
                        W.unboundedPreceding, -1)),
                F.lit(0)),
        )
        .select("bucket", "_base")
    )
    return (
        ranked.join(F.broadcast(bases), "bucket")
        .select(
            "id",
            "n_tokens",
            "bucket",
            (F.col("_base") + F.col("_local_bin")).alias("bin_id"),
            (F.col("bucket") == F.lit(k + 1)).alias("oversize"),
        )
    )


def packing_stats(assignment: DataFrame, capacity: int) -> DataFrame:
    """One-row packing report over a :func:`pack_bins` /
    :func:`pack_bins_ffd` assignment: ``(n_docs, n_bins, packed_tokens,
    efficiency)`` where ``packed_tokens`` counts each doc at
    ``min(n_tokens, capacity)`` (an oversize doc fills its singleton bin)
    and ``efficiency = packed_tokens / (n_bins * capacity)`` — the
    fraction of training-sequence capacity carrying real tokens
    (concat-and-chunk's 1.0 is the ceiling; the gap is the price of never
    splitting a document)."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    cap = F.lit(int(capacity))
    return assignment.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("bin_id").alias("n_bins"),
        F.sum(F.least(F.col("n_tokens"), cap)).alias("packed_tokens"),
    ).select(
        "n_docs",
        "n_bins",
        "packed_tokens",
        (F.col("packed_tokens")
         / (F.col("n_bins") * cap)).alias("efficiency"),
    )


def _bfd_histogram(
    hist: list[tuple[int, int]], capacity: int
) -> list[tuple[tuple[int, ...], int]]:
    """Best-fit-decreasing bin packing solved on the LENGTH HISTOGRAM —
    the histogram-packing idea of Krell et al. 2021 ("Efficient Sequence
    Packing without Cross-contamination", arXiv:2107.02027, published):
    items of equal length are interchangeable, so the solve never touches
    per-document state. Processes lengths longest-first; each placement
    picks the bin COMPOSITION with the smallest remaining capacity that
    still fits (ties to the lexicographically smallest composition —
    fully deterministic), and because all items of one length are equal,
    a chosen bin keeps being the best fit until it is full — so items
    place in BULK per (composition, length) and the work is
    O(distinct_lengths x live_compositions), independent of doc count.

    Returns ``[(composition, n_bins)]`` sorted by composition — the
    deterministic strategy table :func:`pack_bins_ffd` maps ranks
    against. Lengths > capacity become singleton compositions (the
    oversize contract of :func:`pack_bins`).
    """
    from collections import defaultdict

    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    live: dict[tuple[int, ...], int] = defaultdict(int)
    done: dict[tuple[int, ...], int] = defaultdict(int)

    def move(comp: tuple[int, ...], m: int, add: tuple[int, ...]) -> None:
        live[comp] -= m
        if live[comp] == 0:
            del live[comp]
        new = tuple(sorted(comp + add))
        if capacity - sum(new) > 0:
            live[new] += m
        else:
            done[new] += m

    for length, c in sorted(hist, reverse=True):
        length, c = int(length), int(c)
        if length <= 0 or c <= 0:
            continue
        if length > capacity:
            done[(length,)] += c
            continue
        while c > 0:
            cands = [
                (capacity - sum(comp), comp)
                for comp in live
                if capacity - sum(comp) >= length
            ]
            if cands:
                rem, comp = min(cands)
                per_bin = rem // length
                avail = live[comp]
                full = min(avail, c // per_bin)
                if full:
                    move(comp, full, (length,) * per_bin)
                    c -= full * per_bin
                    continue
                # fewer items than one bin takes: one partial placement
                move(comp, 1, (length,) * c)
                c = 0
            else:
                per_bin = capacity // length
                nb = c // per_bin
                if nb:
                    comp = (length,) * per_bin
                    if capacity - sum(comp) > 0:
                        live[comp] += nb
                    else:
                        done[comp] += nb
                    c -= nb * per_bin
                if c:
                    live[(length,) * c] += 1
                    c = 0
    out: dict[tuple[int, ...], int] = defaultdict(int)
    for comp, m in live.items():
        out[comp] += m
    for comp, m in done.items():
        out[comp] += m
    return sorted(out.items())


def pack_bins_ffd(
    df: DataFrame,
    id_col: str,
    token_col: str,
    capacity: int,
) -> DataFrame:
    """Doc-boundary-preserving packing at best-fit-decreasing quality:
    the histogram-packing construction (Krell et al. 2021) distributed
    the Spark way. The corpus-sized work is ONE tiny aggregate (the token
    -length histogram — bounded by distinct lengths, NOT doc count: for
    real corpora <= max sequence length rows) plus ONE rank window per
    length group and a broadcast join against the driver-solved strategy
    table; the NP-hard part runs on the histogram alone
    (:func:`_bfd_histogram`), so the plan scales with data volume while
    the solve scales with the length alphabet.

    Output shape matches :func:`pack_bins` minus ``bucket``: ``(id,
    n_tokens, bin_id, oversize)``; same contracts (whole docs only,
    oversize singletons flagged, zero-token docs dropped). Typically
    packs tighter than the bucket scheme because docs are costed at their
    TRUE length, not a bucket ceiling; both satisfy the FFD/BFD guarantee
    n_bins <= 11/9 * OPT + 1 on the non-oversize portion."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    spark = df.sparkSession
    n = F.col(token_col).cast("long")
    hist = [
        (r["_len"], r["_cnt"])
        for r in df.filter(n > 0)
        .groupBy(n.alias("_len"))
        .agg(F.count("*").alias("_cnt"))
        .collect()
    ]
    strategies = _bfd_histogram(hist, capacity)
    # strategy table -> per-(length, rank-interval) slot rows: docs of
    # length L ranked within their length group map to strategy s's bins
    # by pure arithmetic (replica = offset div copies-per-bin)
    slot_rows = []
    bin_base = 0
    next_rank: dict[int, int] = {}
    for comp, n_bins in strategies:
        per_len: dict[int, int] = {}
        for length in comp:
            per_len[length] = per_len.get(length, 0) + 1
        for length, copies in per_len.items():
            start = next_rank.get(length, 0)
            span = copies * n_bins
            slot_rows.append((length, start, start + span, copies, bin_base))
            next_rank[length] = start + span
        bin_base += n_bins
    slots = spark.createDataFrame(
        slot_rows,
        "n_tokens long, rank_start long, rank_end long, "
        "copies int, bin_base long",
    )
    ranked = (
        df.filter(n > 0)
        .select(F.col(id_col).alias("id"), n.alias("n_tokens"))
        .withColumn(
            "_rk",
            F.row_number().over(
                W.partitionBy("n_tokens").orderBy("id")) - 1,
        )
    )
    return (
        ranked.join(F.broadcast(slots), "n_tokens")
        .filter(
            (F.col("_rk") >= F.col("rank_start"))
            & (F.col("_rk") < F.col("rank_end")))
        .select(
            "id",
            "n_tokens",
            (F.col("bin_base")
             + F.floor((F.col("_rk") - F.col("rank_start"))
                       / F.col("copies"))).alias("bin_id"),
            (F.col("n_tokens") > F.lit(int(capacity))).alias("oversize"),
        )
    )
