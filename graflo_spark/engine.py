"""GraphEngine — the top-level driver API (SURVEY §3.2).

Reference: graflo/hq/graph_engine.py:83-503 (introspect / sample /
infer_manifest / create namespace / define schema / ingest) and :673-757
(export_graph / migrate_graph). Spark design: resources are DataFrames, the
target is a :class:`GraphStore`; ingest = compile every resource to a
GraphBatch (driver-only: compiling never reads the store), then write them
all with ONE ``GraphStore.write_batch``: each table receives its frames in
resource declaration order, distinct tables are written concurrently, and
the ingest publishes one graph version.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession

from graflo_spark.compiler import compile_resource
from graflo_spark.container import GraphBatch
from graflo_spark.manifest import CoreSchema
from graflo_spark.steps import ResourceConfig
from graflo_spark.store import GraphStore


@dataclass
class IngestionParams:
    """Tuned knobs (reference hq/ingestion_parameters.py). Spark subsumes
    batch_size/prefetch; the reference's worker-pool knobs have no
    counterpart because ``GraphStore.write_batch`` sizes its table lanes
    from ``defaultParallelism``. What remains meaningful is scoping +
    caps."""

    resources: list[str] | None = None  # allow-list (reference scope resolve)
    max_items: int | None = None  # per-resource row cap (reference :121-128)
    dry: bool = False


class GraphEngine:
    def __init__(self, spark: SparkSession, schema: CoreSchema, store_root: str):
        self.spark = spark
        self.schema = schema
        self.store = GraphStore(spark, store_root, schema)

    # ------------------------------------------------------------ lifecycle
    def define_schema(self, recreate: bool = False) -> None:
        """Reference define_schema -> Connection.apply_target_schema."""
        self.store.apply_target_schema(recreate=recreate)

    def ingest(
        self,
        resources: list[tuple[ResourceConfig, DataFrame]],
        params: IngestionParams | None = None,
    ) -> GraphStore:
        """Compile each resource to one lazy DAG (reference
        caster.py:481-539), then write every batch in one
        ``write_batch``: a table's frames land in resource declaration
        order, distinct tables land concurrently, and the call publishes
        one graph version — none when no resource is selected."""
        params = params or IngestionParams()
        batches = [
            compile_resource(
                self.schema, res,
                df if params.max_items is None else df.limit(params.max_items))
            for res, df in resources
            if params.resources is None or res.name in params.resources
        ]
        self.store.write_batch(*batches, dry=params.dry)
        return self.store

    def define_and_ingest(
        self,
        resources: list[tuple[ResourceConfig, DataFrame]],
        params: IngestionParams | None = None,
        recreate: bool = False,
    ) -> GraphStore:
        self.define_schema(recreate=recreate)
        return self.ingest(resources, params)

    # -------------------------------------------------------------- sampling
    def sample_resource(self, df: DataFrame, n: int = 100) -> list[dict]:
        """Reference ResourceSampler (hq/sampler.py:99-407): bounded peek at a
        source for inference/debugging."""
        return [r.asDict(recursive=True) for r in df.limit(n).collect()]

    # ------------------------------------------------------------- export
    def export_graph(self) -> GraphBatch:
        """Reference export_graph (graph_engine.py:673-688): the full graph as
        DataFrames (fetch_all_docs / fetch_all_edges equivalents)."""
        return GraphBatch(
            vertices={n: self.store.read_vertices(n) for n in self.store.vertex_names()},
            edges={eid: self.store.read_edges(eid) for eid in self.store.edge_ids()},
        )

    def migrate_graph(self, target_root: str) -> GraphStore:
        """Graph -> graph migration (reference migrate_graph,
        graph_engine.py:690-757): stream every table into a new store. Each
        table is one read -> upsert pass (columnar, no driver round-trip)."""
        dst = GraphStore(self.spark, target_root, self.schema)
        dst.apply_target_schema()
        batch = self.export_graph()
        dst.write_batch(batch)
        return dst
