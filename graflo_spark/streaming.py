"""Streaming ingest + event-time operators.

Reference surface: a Kafka consumer source with stop conditions
(graflo/data_source/kafka.py:27-247) feeding the same batch cast path;
idempotency comes from upsert-on-identity. Spark design: Structured
Streaming ``readStream`` -> ``foreachBatch`` running the *batch* compiler +
store upsert — exactly-once effective semantics because re-delivered batches
merge on identity keys.

Watermarks / windowed aggregations / sessionization are net-new capability
(per the BASELINE.json north star); batch twins of each operator exist so a
DuckDB oracle can verify the semantics on the events table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graflo_spark.compiler import compile_resource
from graflo_spark.manifest import CoreSchema
from graflo_spark.ops.util import Checkpointer
from graflo_spark.steps import ResourceConfig
from graflo_spark.store import GraphStore


# The wire schema Spark's kafka source emits (fixed by the connector); the
# contract tests build recorded frames with exactly this shape.
KAFKA_WIRE_SCHEMA = T.StructType([
    T.StructField("key", T.BinaryType()),
    T.StructField("value", T.BinaryType()),
    T.StructField("topic", T.StringType()),
    T.StructField("partition", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("timestampType", T.IntegerType()),
])


def kafka_reader_options(
    brokers: str,
    topic: str | None = None,
    subscribe_pattern: str | None = None,
    assign: dict[str, list[int]] | None = None,
    starting_offsets: str = "earliest",
    ending_offsets: str | None = None,
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool | None = None,
) -> dict[str, str]:
    """The option matrix for Spark's kafka source (reference
    KafkaDataSource config, data_source/kafka.py:27-247): exactly one of
    ``topic`` (subscribe), ``subscribe_pattern``, or ``assign`` must be
    given. Pure function so the contract is testable without a broker."""
    import json as _json

    chosen = [x for x in (topic, subscribe_pattern, assign) if x is not None]
    if len(chosen) != 1:
        raise ValueError(
            "exactly one of topic, subscribe_pattern, assign is required")
    opts: dict[str, str] = {"kafka.bootstrap.servers": brokers}
    if topic is not None:
        opts["subscribe"] = topic
    elif subscribe_pattern is not None:
        opts["subscribePattern"] = subscribe_pattern
    else:
        opts["assign"] = _json.dumps(assign)
    opts["startingOffsets"] = starting_offsets
    if ending_offsets is not None:
        opts["endingOffsets"] = ending_offsets
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if fail_on_data_loss is not None:
        opts["failOnDataLoss"] = "true" if fail_on_data_loss else "false"
    return opts


def parse_kafka_values(raw: DataFrame, value_schema) -> DataFrame:
    """Project a Kafka wire frame (``KAFKA_WIRE_SCHEMA``) to typed docs:
    JSON-decode ``value`` against ``value_schema``. Works identically on the
    live stream and on a recorded batch frame — which is how the contract is
    tested in a broker-less environment."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("doc")
    ).select("doc.*")


def kafka_source(
    spark,
    brokers: str,
    topic: str | None = None,
    value_schema=None,
    starting_offsets: str = "earliest",
    **kwargs,
) -> DataFrame:
    """Kafka JSON-value stream (reference KafkaDataSource). ENV-GATED: the
    ``.load()`` needs the spark-sql-kafka connector jar and a live broker —
    neither exists in the test container, so everything around this line
    (option matrix, wire-schema value parsing) is contract-tested via
    :func:`kafka_reader_options` + :func:`parse_kafka_values`."""
    if value_schema is None:
        raise ValueError(
            "value_schema is required (the JSON struct the topic's value "
            "payload decodes into)")
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        brokers, topic=topic, starting_offsets=starting_offsets, **kwargs
    ).items():
        reader = reader.option(k, v)
    raw = reader.load()
    return parse_kafka_values(raw, value_schema)


def stream_ingest(
    stream: DataFrame,
    schema: CoreSchema,
    resource: ResourceConfig,
    store: GraphStore,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """foreachBatch ingest: every micro-batch runs the batch compiler and
    upserts — re-ingest is idempotent by merge-on-identity, so at-least-once
    delivery yields exactly-once table state. Each micro-batch's
    compile checkpoint is freed once its write lands, so a long-running
    stream holds no block of a finished batch."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with Checkpointer(batch_df.sparkSession) as ck:
            store.write_batch(
                compile_resource(schema, resource, batch_df, ck))

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# ----------------------------------------------------------- event-time ops
def tumbling_window_agg(
    events: DataFrame,
    ts_col: str,
    window_duration: str,
    group_cols: list[str],
    aggs: dict[str, str],
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation; works identically on batch and
    streaming DataFrames (watermark applies only to streams)."""
    df = events
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    w = F.window(F.col(ts_col), window_duration)
    exprs = [getattr(F, fn)(F.col(c)).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    return (
        df.groupBy(w.alias("win"), *group_cols)
        .agg(*exprs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            *[f"{fn}_{c}" for c, fn in aggs.items()],
        )
    )


def sliding_window_agg(
    events: DataFrame,
    ts_col: str,
    window_duration: str,
    slide_duration: str,
    group_cols: list[str],
    aggs: dict[str, str],
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) event-time windows: each event lands in
    duration/slide windows. Batch and streaming identical semantics."""
    df = events
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    w = F.window(F.col(ts_col), window_duration, slide_duration)
    exprs = [getattr(F, fn)(F.col(c)).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    return (
        df.groupBy(w.alias("win"), *group_cols)
        .agg(*exprs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            *[f"{fn}_{c}" for c, fn in aggs.items()],
        )
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str,
    aggs: dict[str, str],
    watermark: str | None = None,
) -> DataFrame:
    """Native session windows (``F.session_window``): per-key sessions that
    close after ``gap`` of inactivity — the streaming-idiomatic twin of
    :func:`sessionize` (which reconstructs sessions with lag + cumulative
    sum). Works identically on batch and streaming frames; on streams the
    watermark bounds session state."""
    df = events
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    w = F.session_window(F.col(ts_col), gap)
    exprs = [getattr(F, fn)(F.col(c)).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    return (
        df.groupBy(w.alias("win"), *key_cols)
        .agg(*exprs)
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *key_cols,
            *[f"{fn}_{c}" for c, fn in aggs.items()],
        )
    )


def sessionize(
    events: DataFrame,
    ts_col: str,
    user_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Batch sessionization: a session breaks after ``gap_minutes`` of
    inactivity (lag + cumulative-sum of break flags). Streaming twin would be
    ``session_window``/``applyInPandasWithState``; the batch form is the
    oracle-checkable one."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    flagged = events.withColumn(
        "__new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("__new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("__new_session")


def stateful_running_agg(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key running (count, sum) maintained across micro-batches. The
    reference has no stateful streaming — this is the net-new Spark
    capability (BASELINE north star); the batch twin is a plain groupBy,
    which the tests compare against.

    ``timeout_minutes`` opts into a processing-time state eviction. It is
    off by default: a pending processing-time timeout keeps the query
    scheduling no-data micro-batches, which breaks quiescence
    (``processAllAvailable`` never returns) and burns cycles in tests and
    in any finite replay.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame({"key": [str(key[0])], "n": [n], "total": [total]})

    return (
        stream.groupBy(F.col(key_col).cast("string").alias(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_minutes is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def stream_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming deduplication on key columns. With a watermark the dedup
    state is BOUNDED — ``dropDuplicatesWithinWatermark`` evicts keys older
    than the watermark, the only shape that survives an unbounded stream
    (exact-dedup state on 100 TB/day would grow forever). Without a
    watermark (or on a batch frame) falls back to global
    ``dropDuplicates`` — exact, but unbounded state on streams, so reserve
    it for finite replays. The batch twin of both is
    :func:`graflo_spark.ops.dedup.exact_dedup`."""
    if watermark and stream.isStreaming:
        if ts_col is None:
            raise ValueError("watermarked stream dedup needs ts_col")
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols)
    return stream.dropDuplicates(key_cols)


def stream_minhash_dedup(
    stream: DataFrame,
    store,
    output_dir: str,
    checkpoint_dir: str,
):
    """Streaming NEAR-dup dedup: each micro-batch runs
    :class:`graflo_spark.ops.dedup.MinHashDedupStore.dedup_batch` — dedup
    within the batch AND against every previously kept document — and
    appends the survivors to ``output_dir``. State is the on-disk signature
    store (disk-bounded, not executor-memory-bounded), which is the only
    shape that lets an unbounded stream dedup against ALL history;
    :func:`stream_dedup` by contrast bounds state by watermark TIME and
    only catches exact key repeats inside that horizon.

    Replay-safe with at-least-once output: a re-delivered batch (store
    append committed, output write lost) re-emits the SAME survivors —
    self-matches against its own stored signatures are excluded and the
    store append is id-deduplicated, so nothing is silently lost and the
    store doesn't grow; downstream readers dedup the output by id if
    exactly-once is needed."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.dedup_batch(batch_df).write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_lexical_index(
    stream: DataFrame,
    store,
    checkpoint_dir: str,
):
    """Continuous inverted-index maintenance: each micro-batch is indexed
    by :class:`graflo_spark.ops.retrieval.LexicalIndexStore.ingest_batch`
    — one tokenize+explode over the batch, never a rescan of indexed
    history — so BM25/tf-idf probes (``bm25_topk(index=store.as_index())``)
    always see the stream so far. The store's (seq, batch_id)-committed
    protocol makes a replayed micro-batch overwrite its own dirs instead
    of double-counting (at-least-once safe); the dedup-by-id contract is
    the caller's, as for every store in this package."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.ingest_batch(batch_df, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_ivf_index(
    stream: DataFrame,
    store,
    checkpoint_dir: str,
):
    """Continuous dense-ANN index maintenance — the embedding-side twin of
    :func:`stream_lexical_index`: each micro-batch is assigned to the
    store's frozen centroids by
    :class:`graflo_spark.ops.simsearch.IvfIndexStore.ingest_batch` — one
    shuffle-free map pass over the batch, never a rescan of indexed
    history — so ANN probes (``ivf_probe(store.as_index(), ...)``) always
    see the stream so far. The (seq, batch_id)-committed protocol makes a
    replayed micro-batch overwrite its own dirs instead of
    double-indexing (at-least-once safe); dedup-by-id is the caller's
    contract, as for every store in this package. Call ``store.refit()``
    offline when the data distribution has drifted from the centroids."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.ingest_batch(batch_df, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_semantic_dedup(
    stream: DataFrame,
    store,
    checkpoint_dir: str,
    output_dir: str | None = None,
):
    """Continuous semantic-dedup maintenance — the embedding-side twin of
    :func:`stream_minhash_dedup`: each micro-batch is assigned to the
    store's frozen centroids and compared by exact cosine against its
    cell's history by
    :class:`graflo_spark.ops.dedup.SemDedupStore.ingest_batch`; the
    duplicate PAIRS the batch introduces are persisted in the store (and,
    when ``output_dir`` is given, appended there as a live duplicate
    feed). The union of per-batch pairs equals the one-shot
    ``semantic_dedup`` pair set, so ``store.clusters()`` at any point is
    the exact batch answer over the stream so far. The (seq,
    batch_id)-committed protocol makes a replayed micro-batch overwrite
    its own dirs with identical rows (at-least-once safe; the output feed
    re-emits the same pairs at worst — dedup downstream by (id_a, id_b)
    for exactly-once). Call ``store.refit()`` offline for centroid
    drift."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_pairs = store.ingest_batch(batch_df, batch_id=batch_id)
        if output_dir is not None:
            new_pairs.write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_line_dedup(
    stream: DataFrame,
    store,
    output_dir: str,
    checkpoint_dir: str,
):
    """Streaming corpus-wide LINE dedup: each micro-batch runs
    :class:`graflo_spark.ops.dedup.LineDedupStore.scrub_batch` — every
    line already seen anywhere in the stream (or earlier in the batch)
    is cut, the first occurrence survives — and appends the scrubbed
    documents to ``output_dir``. The daily-crawl boilerplate scrub as a
    continuous job; state is the on-disk distinct-line-hash store, and
    the store's (seq, batch_id)-committed protocol makes a replayed
    micro-batch re-emit the SAME scrubbed text whichever side of the
    store commit the crash fell on (the epoch id is passed through, so a
    post-commit replay re-runs under its original seq instead of seeing
    its own hashes as history) — at-least-once delivery costs duplicate
    output rows at worst; dedup downstream by id for exactly-once."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.scrub_batch(batch_df, batch_id=batch_id).write.mode(
            "append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_pack(
    stream: DataFrame,
    store,
    checkpoint_dir: str,
    output_dir: str | None = None,
):
    """Continuous sequence packing: each micro-batch is packed against the
    persisted running token total by
    :class:`graflo_spark.ops.packing.PackingStore.pack_batch` — batch N+1's
    chunks continue exactly where batch N's stopped, without re-packing
    history — and (when ``output_dir`` is given) the batch's span rows
    append there as a live feed. The (total, seq, batch_id)-committed
    protocol makes a replayed micro-batch re-run under its ORIGINAL seq
    and base offset, overwriting its own span dir with identical rows
    (at-least-once safe; the output feed re-emits the same spans at worst
    — dedup downstream by (id, chunk_id) for exactly-once). The store's
    :meth:`spans` is always the consistent full history."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spans = store.pack_batch(batch_df, batch_id=batch_id)
        if output_dir is not None:
            spans.write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_asof_enrich(
    stream: DataFrame,
    reference,
    on,
    left_ts: str,
    right_ts: str,
    output_dir: str,
    checkpoint_dir: str,
    **asof_kwargs,
):
    """Streaming point-in-time enrichment: each micro-batch is as-of
    joined (:func:`graflo_spark.ops.temporal.asof_join`) against the
    reference table and the enriched rows append to ``output_dir`` — the
    stream-side twin of the batch operator, for the 'tag every event with
    the reference row in force at its timestamp' shape (quotes for
    trades, config in force at send time, model version at score time).

    ``reference`` is either a DataFrame (static for the query's lifetime)
    or a ZERO-ARG CALLABLE returning one, re-evaluated per micro-batch —
    pass a callable when the reference is itself upserted concurrently
    (e.g. ``lambda: store.read_vertices("quote")``) so each batch joins
    the latest committed version.

    State story: unlike a stream-stream interval join this keeps NO
    watermark state — correctness is per-batch (a reference row arriving
    AFTER an event's batch was processed does not retroactively re-match,
    which is exactly the at-time-of-processing semantics enrichment
    wants). Output is at-least-once under replays, like the other
    foreachBatch sinks; dedup downstream by key if exactly-once matters.
    """
    from graflo_spark.ops.temporal import asof_join

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ref = reference() if callable(reference) else reference
        asof_join(
            batch_df, ref, on, left_ts, right_ts, **asof_kwargs
        ).write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def replay_as_stream(spark, df: DataFrame, rate_rows_per_second: int = 1000):
    """Replay a batch table as a stream for tests: writes it to an in-memory
    rate-joined source is overkill locally — instead we chunk via
    maxFilesPerTrigger over a temp parquet spill."""
    import os
    import tempfile
    import time

    d = tempfile.mkdtemp(prefix="graflo_stream_")
    df.write.mode("overwrite").parquet(d)
    # FileStreamSource drains oldest-mtime-first; part files written in the
    # same millisecond tie and the replay order becomes nondeterministic.
    # Pin strictly increasing mtimes in part-file path order so micro-batch
    # order always equals partition order (tests rely on it).
    base = time.time() - 86400
    for i, name in enumerate(
        sorted(f for f in os.listdir(d) if f.startswith("part-"))
    ):
        os.utime(os.path.join(d, name), (base + i, base + i))
    return spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(d)
