"""Structured Streaming ingest end-to-end (file stream replay ->
foreachBatch -> store upsert) + GraphView.hydrate."""

import time

from pyspark.sql import functions as F

from graflo_spark.manifest import CoreSchema, Edge, Field, FieldType, Vertex
from graflo_spark.steps import ResourceConfig, VertexStep
from graflo_spark.store import GraphStore
from graflo_spark.streaming import replay_as_stream, stream_ingest


def test_stream_ingest_idempotent_upsert(spark, tables, tmp_path):
    schema = CoreSchema(
        vertices=[
            Vertex("customer", [Field("c_custkey", FieldType.INT), Field("c_name")],
                   identity=["c_custkey"]),
            Vertex("nation", [Field("n_nationkey", FieldType.INT)],
                   identity=["n_nationkey"]),
        ],
        edges=[Edge("customer", "nation", relation="located_in")],
    )
    res = ResourceConfig("customer", steps=[
        VertexStep(name="customer"),
        VertexStep(name="nation", mapping={"n_nationkey": "c_nationkey"},
                   extraction_scope="mapped_only", lookup_only=True),
    ])
    store = GraphStore(spark, str(tmp_path / "g"), schema)
    store.apply_target_schema()

    src = tables["customer"].select("c_custkey", "c_name", "c_nationkey")
    # split into several files so the stream delivers multiple micro-batches
    stream = replay_as_stream(spark, src.repartition(3))
    q = stream_ingest(stream, schema, res, store,
                      checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            try:
                if store.read_vertices("customer").count() == src.count():
                    break
            except FileNotFoundError:
                pass
            time.sleep(0.5)
    finally:
        q.stop()

    assert store.read_vertices("customer").count() == src.count()
    eid = store.edge_ids()[0]
    assert store.read_edges(eid).count() == src.count()


def test_stream_ingest_graph_versions_are_batch_aligned(spark, tables, tmp_path):
    """Every graph-level version a streaming ingest publishes is BATCH
    aligned: stream_ingest routes each micro-batch through write_batch,
    which commits ONE atomic graph manifest after the batch's vertex AND
    edge tables land — so at every committed graph version the snapshot
    contains exactly the customers and edges of a whole number of batches
    (here #edges == #customers at every version), never vertices of batch
    N+1 with edges of batch N."""
    schema = CoreSchema(
        vertices=[
            Vertex("customer", [Field("c_custkey", FieldType.INT), Field("c_name")],
                   identity=["c_custkey"]),
            Vertex("nation", [Field("n_nationkey", FieldType.INT)],
                   identity=["n_nationkey"]),
        ],
        edges=[Edge("customer", "nation", relation="located_in")],
    )
    res = ResourceConfig("customer", steps=[
        VertexStep(name="customer"),
        VertexStep(name="nation", mapping={"n_nationkey": "c_nationkey"},
                   extraction_scope="mapped_only", lookup_only=True),
    ])
    store = GraphStore(spark, str(tmp_path / "g"), schema, snapshot_keep=50)
    store.apply_target_schema()

    src = tables["customer"].select("c_custkey", "c_name", "c_nationkey")
    stream = replay_as_stream(spark, src.repartition(3))
    q = stream_ingest(stream, schema, res, store,
                      checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            try:
                if store.read_vertices("customer").count() == src.count():
                    break
            except FileNotFoundError:
                pass
            time.sleep(0.5)
    finally:
        q.stop()

    versions = store.graph_versions()
    assert versions, "streaming ingest published no graph-level commits"
    eid = store.edge_ids()[0]
    seen = []
    for gv in versions:
        n_cust = store.read_vertices_at_graph("customer", gv).count()
        n_edge = store.read_edges_at_graph(eid, gv).count()
        # the alignment invariant: one edge per ingested customer row, so a
        # snapshot mixing batch boundaries would show n_edge != n_cust
        assert n_edge == n_cust, (gv, n_cust, n_edge)
        seen.append(n_cust)
    assert seen == sorted(seen)  # snapshots only grow, batch by batch
    assert seen[-1] == src.count()


def test_stream_ingest_holds_no_blocks_across_batches(spark, tmp_path):
    """Each micro-batch's compile checkpoints its base (a descend resource
    with no doc_key); the handle frees it after the batch's write, so the
    persistent RDDs after N micro-batches are those after one."""
    from graflo_spark.steps import DescendStep

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
    store = GraphStore(spark, str(tmp_path / "g"), schema)
    store.apply_target_schema()
    src = str(tmp_path / "in")
    ddl = "team_id long, members array<long>"

    def add_file(t):
        spark.createDataFrame([(t, [t * 10, t * 10 + 1])], ddl) \
            .coalesce(1).write.mode("append").parquet(src)

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    add_file(0)
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", 1).parquet(src)
    q = stream_ingest(stream, schema, res, store,
                      checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        after_one = persistent_ids()
        for t in range(1, 4):
            add_file(t)
        q.processAllAvailable()
        after_n = persistent_ids()
        progress = q.recentProgress
    finally:
        q.stop()

    assert sum(p["numInputRows"] > 0 for p in progress) == 4  # 4 batches
    assert store.read_vertices("team").count() == 4
    assert after_n - after_one == set()
    assert len(after_n) <= len(after_one)


def test_hydrate_returns_full_docs(spark, sf_dir):
    from graflo_spark.catalog import star_view
    from graflo_spark.query import Direction

    view = star_view(spark, sf_dir)
    nodes = view.neighbors(
        "nation", {"field": "n_nationkey", "op": "==", "value": 3},
        hops=1, direction=Direction.ANY)
    cust = view.hydrate(nodes, "customer")
    n = cust.count()
    assert n > 0
    assert "c_name" in cust.columns  # full docs, not just keys
    # every hydrated customer really is adjacent to nation 3
    keys = {r["node_key"] for r in nodes.filter(F.col("node_type") == "customer")
            .select("node_key").collect()}
    assert n == len(keys)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Watermarked streaming dedup: duplicate keys arriving within the
    watermark window emit once; state is bounded by the watermark (the only
    dedup shape that survives an unbounded stream)."""
    import datetime as dt

    from pyspark.sql import types as T

    from graflo_spark.streaming import stream_dedup

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("k", T.LongType()),
    ])
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [(base + dt.timedelta(minutes=m), k)
            for m, k in [(0, 1), (1, 1), (1, 2), (2, 2), (2, 1), (3, 3)]]
    src = str(tmp_path / "dd_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    deduped = stream_dedup(stream, ["k"], ts_col="ts", watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory").queryName("dd_stream")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(r["k"] for r in spark.table("dd_stream").collect())
    assert got == [1, 2, 3]

    # batch fallback: plain dropDuplicates
    batch = spark.createDataFrame(rows, schema)
    assert stream_dedup(batch, ["k"]).count() == 3


def test_kafka_reader_options_contract():
    """The option matrix of the kafka source (reference KafkaDataSource,
    data_source/kafka.py:27-247), testable without a broker: exactly one
    subscription mode; offsets/throttle/data-loss options rendered exactly
    as the connector expects them."""
    import pytest

    from graflo_spark.streaming import kafka_reader_options

    opts = kafka_reader_options("b1:9092,b2:9092", topic="events")
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
    }

    opts = kafka_reader_options(
        "b:9092", subscribe_pattern="events-.*", starting_offsets="latest",
        max_offsets_per_trigger=50_000, fail_on_data_loss=False)
    assert opts["subscribePattern"] == "events-.*"
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "50000"
    assert opts["failOnDataLoss"] == "false"
    assert "subscribe" not in opts

    opts = kafka_reader_options(
        "b:9092", assign={"events": [0, 2]},
        starting_offsets='{"events":{"0":-2,"2":-2}}',
        ending_offsets="latest")
    import json
    assert json.loads(opts["assign"]) == {"events": [0, 2]}
    assert opts["endingOffsets"] == "latest"

    # exactly-one-subscription-mode is enforced
    for bad in (
        dict(),
        dict(topic="t", subscribe_pattern="t.*"),
        dict(topic="t", assign={"t": [0]}),
    ):
        with pytest.raises(ValueError, match="exactly one"):
            kafka_reader_options("b:9092", **bad)


def test_kafka_value_parsing_against_recorded_wire_frame(spark):
    """JSON value decoding against a recorded frame with the connector's
    exact wire schema: well-formed payloads parse to typed columns,
    malformed payloads become all-null docs (from_json semantics), and the
    projection drops the wire columns."""
    import datetime as dt
    import json

    from pyspark.sql import types as T

    from graflo_spark.streaming import KAFKA_WIRE_SCHEMA, parse_kafka_values

    payloads = [
        {"event_id": 1, "etype": "click", "amount": 2.5},
        {"event_id": 2, "etype": "view", "amount": None},
        None,  # tombstone/null value
        "NOT-JSON",
    ]
    ts = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = []
    for i, p in enumerate(payloads):
        blob = (
            None if p is None
            else (p if isinstance(p, bytes) else json.dumps(p).encode()
                  if not isinstance(p, str) else p.encode())
        )
        rows.append((str(i).encode(), blob, "events", i % 2, i, ts, 0))
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)

    value_schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("etype", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ])
    out = parse_kafka_values(raw, value_schema)
    assert out.columns == ["event_id", "etype", "amount"]
    got = {r["event_id"]: (r["etype"], r["amount"]) for r in out.collect()}
    assert got[1] == ("click", 2.5)
    assert got[2] == ("view", None)
    assert got[None][0] is None  # null + malformed -> all-null docs
    assert out.filter("event_id IS NULL").count() == 2


def test_stream_asof_enrich_matches_batch(spark, tmp_path):
    """Streaming point-in-time enrichment: micro-batched output must equal
    the batch asof_join over the same data, and a CALLABLE reference is
    re-read per batch (the upserted-dimension shape)."""
    from graflo_spark.ops.temporal import asof_join
    from graflo_spark.streaming import replay_as_stream, stream_asof_enrich

    trades = spark.createDataFrame(
        [("a", 4.0, 1), ("a", 12.0, 2), ("b", 9.0, 3), ("a", 30.0, 4)],
        "k string, ts double, qty int")
    quotes = spark.createDataFrame(
        [("a", 5.0, 100.0), ("a", 15.0, 110.0), ("b", 1.0, 50.0)],
        "k string, ts double, px double")
    out = str(tmp_path / "enriched")
    q = stream_asof_enrich(
        replay_as_stream(spark, trades.repartition(2)), quotes,
        "k", "ts", "ts", out, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    got = {r["qty"]: (r["ref_ts"], r["ref_px"])
           for r in spark.read.parquet(out).collect()}
    want = {r["qty"]: (r["ref_ts"], r["ref_px"])
            for r in asof_join(trades, quotes, "k", "ts", "ts").collect()}
    assert got == want

    # callable reference: evaluated per batch
    calls = []

    def ref():
        calls.append(1)
        return quotes

    out2 = str(tmp_path / "enriched2")
    q2 = stream_asof_enrich(
        replay_as_stream(spark, trades.repartition(2)), ref,
        "k", "ts", "ts", out2, str(tmp_path / "ckpt2"))
    q2.processAllAvailable()
    q2.stop()
    assert len(calls) >= 2  # one per non-empty micro-batch
    assert spark.read.parquet(out2).count() == 4
