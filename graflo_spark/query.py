"""Query surface: Node / Aggregate / Neighbor / Traverse over graph tables.

Reference: graflo/architecture/query/models.py (typed, cap-validated query
models — deliberately no raw query pass-through) + db/traversal.py
(backend-neutral BFS). Spark design: a :class:`GraphView` of vertex/edge
DataFrames; traversal is an iterative frontier-join BFS with a visited
anti-join — each hop joins each vertex type's frontier against the
per-edge-type projections leaving that type.

Scale notes: an edge type's projection (column-pruned to the endpoint
keys) is built at most once per traversal, the first time a frontier
reaches its source type, so unreached edge types cost no plan. Every hop
except the last is eagerly checkpointed, and each frontier's exact row
count comes from its checkpoint's own job (an Observation), not a second
action; the last hop, which nothing probes, runs inside the job that
materializes the result. The frontier is tiny relative to the graph, so
it is broadcast (up to ``BROADCAST_FRONTIER_MAX_ROWS``); the visited set
stays a DataFrame (no driver collect).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field as dc_field
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graflo_spark.filters import FilterExpression
from graflo_spark.manifest import CoreSchema, EdgeId

DEFAULT_EDGE_LIMIT = 1000  # reference db/traversal.py:34-36

# A BFS frontier larger than this is no longer "small side" material: at
# ~1M keys the broadcast table is tens of MB per executor and a further hop
# can approach the full vertex set, so the forced hint is dropped and AQE
# chooses broadcast vs shuffle from the checkpointed frontier's real stats.
BROADCAST_FRONTIER_MAX_ROWS = 1_000_000


class Direction(str, enum.Enum):
    OUT = "out"
    IN = "in"
    ANY = "any"


class AggFn(str, enum.Enum):
    COUNT = "count"
    MAX = "max"
    MIN = "min"
    AVERAGE = "average"
    SORTED_UNIQUE = "sorted_unique"


class _AdjEntry(NamedTuple):
    """One traversal orientation of an edge table: a frontier in ``src``
    (``(vertex type, identity space)``) reaches ``dst`` by joining its keys
    to the edge columns ``a_cols``; ``b_cols`` are the reached keys."""

    eid: EdgeId
    src: tuple[str, str]
    dst: tuple[str, str]
    a_cols: tuple[str, ...]
    b_cols: tuple[str, ...]


@dataclass
class QueryCaps:
    """Hard ceilings with narrow-not-raise semantics (reference
    query/models.py:54-131, query/caps.py): explicit requests beyond a cap
    raise; defaults clamp silently."""

    max_rows: int = 100_000
    max_hops: int = 5
    max_seeds: int = 1000

    def clamp_rows(self, requested: int | None, explicit: bool) -> int:
        if requested is None:
            return self.max_rows
        if requested > self.max_rows:
            if explicit:
                raise ValueError(f"limit {requested} exceeds cap {self.max_rows}")
            return self.max_rows
        return requested

    def check_hops(self, hops: int) -> int:
        if hops > self.max_hops:
            raise ValueError(f"hops {hops} exceeds cap {self.max_hops}")
        return hops

    def check_seeds(self, n: int) -> int:
        if n > self.max_seeds:
            raise ValueError(f"{n} seeds exceed cap {self.max_seeds}")
        return n


@dataclass
class GraphView:
    """Uniform read surface over a GraphBatch or a GraphStore."""

    vertices: dict[str, DataFrame]
    edges: dict[EdgeId, DataFrame]
    schema: CoreSchema

    # ------------------------------------------------------------ node ops
    def node_query(
        self,
        vertex: str,
        filters: FilterExpression | dict | list | None = None,
        project: list[str] | None = None,
        limit: int | None = None,
        caps: QueryCaps | None = None,
        order_by: list[str] | None = None,
    ) -> DataFrame:
        """NodeQuery (reference query/models.py:133-140)."""
        caps = caps or QueryCaps()
        df = self.vertices[vertex]
        if filters is not None:
            df = df.filter(FilterExpression.parse(filters).to_column())
        if project:
            df = df.select(*project)
        if order_by:
            df = df.orderBy(*order_by)
        n = caps.clamp_rows(limit, explicit=limit is not None)
        return df.limit(n)

    def aggregate(
        self,
        vertex: str,
        fn: AggFn | str,
        aggregated_field: str | None = None,
        discriminant: str | None = None,
        filters: FilterExpression | dict | list | None = None,
    ) -> DataFrame:
        """AggregateQuery (reference db/conn.py:611-634, query/models.py:252-283):
        fns COUNT/MAX/MIN/AVERAGE/SORTED_UNIQUE; group-by only with COUNT."""
        fn = AggFn(fn)
        if fn != AggFn.COUNT and aggregated_field is None:
            raise ValueError(f"{fn.value} requires aggregated_field")
        if discriminant is not None and fn != AggFn.COUNT:
            raise ValueError("discriminant (group-by) is only valid with COUNT")
        df = self.vertices[vertex]
        if filters is not None:
            df = df.filter(FilterExpression.parse(filters).to_column())
        if fn == AggFn.COUNT:
            if discriminant:
                return df.groupBy(discriminant).agg(F.count(F.lit(1)).alias("agg_value"))
            return df.agg(F.count(F.lit(1)).alias("agg_value"))
        col = F.col(aggregated_field)
        expr = {
            AggFn.MAX: F.max(col),
            AggFn.MIN: F.min(col),
            AggFn.AVERAGE: F.avg(col),
            AggFn.SORTED_UNIQUE: F.sort_array(F.collect_set(col)),
        }[fn]
        return df.agg(expr.alias("agg_value"))

    # ------------------------------------------------------------ edge ops
    def _identity_funnel(self, vertex: str) -> list[tuple[str, list[str]]]:
        """Ordered address spaces for a vertex type: the primary identity
        (space name ``""``) followed by each declared secondary identity in
        declaration order. Secondary-identity endpoint resolution (reference
        hq/endpoint_resolve.py:73-166, steps/models.py:347-377): a row whose
        primary identity columns are all NULL — e.g. a pure-``other`` row
        after a differently-keyed MergeVerticesOp, or rows whose identity
        was replaced onto a never-populated column — is addressed through
        the first secondary identity that carries data instead of
        collapsing onto one degenerate key.

        DEAD spaces are pruned: a space whose columns are a subset of the
        union of all earlier spaces' columns can never win (it is all-NULL
        exactly when they are), so keeping it would only fan out adjacency
        projections and CASE WHEN chains for provably-empty row sets —
        e.g. a secondary identity declared over the primary key column
        itself (a lookup alias, not an address space)."""
        v = self.schema.vertex(vertex)
        out = [("", list(v.identity_fields))]
        seen = set(v.identity_fields)
        for n, c in v.secondary_identities.items():
            if c and not set(c) <= seen:
                out.append((n, list(c)))
                seen |= set(c)
        return out

    def _funnel_key(self, vertex: str, prefix: str,
                    columns: list[str] | set[str]) -> F.Column:
        """Per-row address key: the first identity space (primary, then
        secondaries) whose ``{prefix}{field}`` columns are all present in
        ``columns`` AND carry at least one non-NULL value wins. Secondary
        keys are disambiguated with a ``#<name>`` component so a secondary
        value can never collide with a primary value.

        NOTE concat_ws skips NULL components, so two multi-field identities
        differing only in WHICH field is null would collide. The ingest
        pipeline guarantees non-null identity (unkeyed rows are dropped/
        resolved at build — compiler drop-unkeyed policy), so primary keys
        here are total; data bypassing the pipeline must uphold the same
        contract."""
        cols = set(columns)
        spaces = [(n, fs) for n, fs in self._identity_funnel(vertex)
                  if fs and all(f"{prefix}{f}" in cols for f in fs)]
        if not spaces:
            raise ValueError(
                f"no identity columns of {vertex!r} (prefix {prefix!r}) "
                f"present among {sorted(cols)[:20]}")

        def key_of(name: str, fields: list[str]) -> F.Column:
            parts = [F.lit(vertex)]
            if name:
                parts.append(F.lit(f"#{name}"))
            parts += [F.col(f"{prefix}{f}").cast("string") for f in fields]
            return F.concat_ws("\x1f", *parts)

        def any_nonnull(fields: list[str]) -> F.Column:
            cond = F.col(f"{prefix}{fields[0]}").isNotNull()
            for f in fields[1:]:
                cond = cond | F.col(f"{prefix}{f}").isNotNull()
            return cond

        first_n, first_fs = spaces[0]
        if len(spaces) == 1:
            # single space -> plain concat, the exact pre-funnel expression
            # (keeps WholeStageCodegen spans identical for standard graphs)
            return key_of(first_n, first_fs)
        expr = key_of(first_n, first_fs)  # all-spaces-NULL fallback
        for n, fs in reversed(spaces[1:]):
            expr = F.when(any_nonnull(fs), key_of(n, fs)).otherwise(expr)
        return F.when(any_nonnull(first_fs),
                      key_of(first_n, first_fs)).otherwise(expr)

    def _node_key(self, vertex: str, prefix: str,
                  columns: list[str] | set[str] | None = None) -> F.Column:
        if columns is None:
            identity = self.schema.vertex(vertex).identity_fields
            columns = [f"{prefix}{f}" for f in identity]
        return self._funnel_key(vertex, prefix, columns)

    def _multi_space(self, vertex: str) -> bool:
        return len(self._identity_funnel(vertex)) > 1

    def _with_canon(self, df: DataFrame, vertex: str, prefix: str,
                    out_col: str) -> DataFrame:
        """Add ``out_col``: the CANONICAL endpoint key for the
        ``{prefix}``-side of each edge row.

        Single-space type (every pipeline-built graph): a pure Column
        expression — the plain concat key, zero joins, plan unchanged.

        Multi-space type (a store that went through identity-changing
        migrations): an edge row may address its endpoint through any
        space whose key columns it carries — and the VERTEX row it
        addresses may win a HIGHER space (it carries data the edge does
        not). Winner-vs-winner addressing would silently miss those
        edges (r14 fuzz, seed 1201: a bypassed re-key left edges keyed in
        `merged_person` while the vertices' replaced identity won
        primary). So each edge row's winner-space key is RESOLVED against
        the vertex rows that carry that key in that space (a per-space
        left equi-join against a deduped two-column projection of the
        vertex table — broadcast-sized after projection for any
        realistically keyed type, and AQE picks the strategy) and
        rewritten to the addressed vertex's canonical winner key.
        Unresolved (dangling) rows keep their self-computed funnel key —
        the same node-from-edge semantics the single-space path has."""
        fallback = self._funnel_key(vertex, prefix, df.columns).alias(out_col)
        if not self._multi_space(vertex) or vertex not in self.vertices:
            return df.select("*", fallback)
        vdf = self.vertices[vertex]
        vcols = set(vdf.columns)
        ecols = set(df.columns)
        spaces = [(n, fs) for n, fs in self._identity_funnel(vertex)
                  if fs and all(f"{prefix}{f}" in ecols for f in fs)]
        if not spaces:
            raise ValueError(
                f"no identity columns of {vertex!r} (prefix {prefix!r}) "
                f"present among {sorted(ecols)[:20]}")
        canon_key = self._funnel_key(vertex, "", vdf.columns)

        def any_nonnull(fields, pre):
            cond = F.col(f"{pre}{fields[0]}").isNotNull()
            for f in fields[1:]:
                cond = cond | F.col(f"{pre}{f}").isNotNull()
            return cond

        parts = []
        prior_all_null = None
        for n, fs in spaces:
            rows = df
            if prior_all_null is not None:
                rows = rows.filter(prior_all_null)
            rows = rows.filter(any_nonnull(fs, prefix))
            if all(f in vcols for f in fs):
                lut = (vdf.filter(any_nonnull(fs, ""))
                       .select(*[F.col(f).alias(f"__m_{i}")
                                 for i, f in enumerate(fs)],
                               canon_key.alias("__m_key"))
                       .dropDuplicates([f"__m_{i}" for i in range(len(fs))]))
                cond = F.col(f"{prefix}{fs[0]}").eqNullSafe(F.col("__m_0"))
                for i, f in enumerate(fs[1:], start=1):
                    cond = cond & F.col(f"{prefix}{f}").eqNullSafe(
                        F.col(f"__m_{i}"))
                rows = (rows.join(lut, cond, "left")
                        .withColumn(out_col,
                                    F.coalesce(F.col("__m_key"), fallback))
                        .drop(*[f"__m_{i}" for i in range(len(fs))],
                              "__m_key"))
            else:
                rows = rows.select("*", fallback)
            parts.append(rows)
            this_null = F.col(f"{prefix}{fs[0]}").isNull()
            for f in fs[1:]:
                this_null = this_null & F.col(f"{prefix}{f}").isNull()
            prior_all_null = (this_null if prior_all_null is None
                              else prior_all_null & this_null)
        parts.append(df.filter(prior_all_null).select("*", fallback))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def vertex_key_col(self, vertex: str,
                       columns: list[str] | set[str] | None = None) -> F.Column:
        if columns is None:
            columns = (self.vertices[vertex].columns
                       if vertex in self.vertices
                       else self.schema.vertex(vertex).identity_fields)
        return self._funnel_key(vertex, "", columns)

    def typed_edge_list(
        self,
        relations: list[str] | None = None,
        direction: Direction = Direction.OUT,
    ) -> DataFrame:
        """Type-erased edge list ``(src_key, dst_key, src_type, dst_type,
        relation)`` — one union, pruned to key columns only."""
        parts = []
        for eid, df in self.edges.items():
            rel = (
                F.col("_relation")
                if "_relation" in df.columns
                else F.lit(eid.relation)
            )
            keyed = self._with_canon(df, eid.source, "_src_", "__src_key")
            keyed = self._with_canon(keyed, eid.target, "_dst_", "__dst_key")
            base = keyed.select(
                F.col("__src_key").alias("src_key"),
                F.col("__dst_key").alias("dst_key"),
                F.lit(eid.source).alias("src_type"),
                F.lit(eid.target).alias("dst_type"),
                rel.cast("string").alias("relation"),
            )
            try:
                declared = self.schema.edge(eid.source, eid.target, eid.relation)
                directed = declared.directed
            except KeyError:
                directed = True
            both = direction == Direction.ANY or not directed
            if both:
                rev = base.select(
                    F.col("dst_key").alias("src_key"),
                    F.col("src_key").alias("dst_key"),
                    F.col("dst_type").alias("src_type"),
                    F.col("src_type").alias("dst_type"),
                    "relation",
                )
                base = base.unionByName(rev)
            elif direction == Direction.IN:
                base = base.select(
                    F.col("dst_key").alias("src_key"),
                    F.col("src_key").alias("dst_key"),
                    F.col("dst_type").alias("src_type"),
                    F.col("src_type").alias("dst_type"),
                    "relation",
                )
            parts.append(base)
        if not parts:
            raise ValueError("graph has no edges")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if relations is not None:
            out = out.filter(F.col("relation").isin(relations))
        return out

    def fetch_edges(
        self,
        vertex: str,
        anchor: FilterExpression | dict | list,
        direction: Direction = Direction.ANY,
        limit: int | None = DEFAULT_EDGE_LIMIT,
    ) -> DataFrame:
        """Edges incident to anchor vertices (reference db/conn.py:483-527).

        ``limit=None`` returns the full incidence set unbounded — callers
        that need exactness (oracle comparisons, exports) must opt out
        explicitly, because the default cap truncates nondeterministically
        once an anchor's incidence exceeds it.
        """
        anchors = self.vertices[vertex].filter(
            FilterExpression.parse(anchor).to_column()
        )
        akeys = anchors.select(self.vertex_key_col(vertex).alias("src_key"))
        # the same size guard as _bfs's frontier: a broad anchor filter can
        # match millions of vertices, and a FORCED broadcast there is an
        # executor OOM — past the threshold the hint drops and AQE picks
        # the strategy from real stats
        if anchors.limit(BROADCAST_FRONTIER_MAX_ROWS + 1).count() \
                <= BROADCAST_FRONTIER_MAX_ROWS:
            akeys = F.broadcast(akeys)
        edges = self.typed_edge_list(direction=direction)
        out = edges.join(akeys, "src_key")
        return out if limit is None else out.limit(limit)

    # ----------------------------------------------------------- traversal
    def neighbors(
        self,
        vertex: str,
        anchor: FilterExpression | dict | list,
        hops: int = 1,
        direction: Direction = Direction.ANY,
        relations: list[str] | None = None,
        caps: QueryCaps | None = None,
        plan_sink: list[str] | None = None,
    ) -> DataFrame:
        """k-hop adjacency of anchor vertices (reference NeighborQuery,
        query/models.py:142-198; BFS db/traversal.py:113-243).

        Returns ``(node_key, node_type, hop)`` for every reached node,
        minimal hop per node, anchors at hop 0.
        """
        caps = caps or QueryCaps()
        caps.check_hops(hops)
        seeds = self._seed_frontiers(
            vertex, FilterExpression.parse(anchor).to_column())
        return self._bfs(seeds, hops, direction, relations, plan_sink)

    def _seed_frontiers(
        self, vertex: str, cond: F.Column
    ) -> dict[tuple[str, str], DataFrame]:
        """Seed frontier(s) for vertices matching ``cond`` — LAZY;
        ``_bfs`` checkpoints them through its tracker so the blocks are
        reclaimed when the traversal finishes.

        Single-space type (every pipeline-built graph): one frame of
        native identity key columns under space ``""`` — the exact
        pre-funnel plan. Multi-space type: one frame of CANONICAL string
        keys under space ``"@"`` (the addressing :meth:`_with_canon`
        rewrites edge endpoints into)."""
        rows = self.vertices[vertex].filter(cond)
        if self._multi_space(vertex):
            return {(vertex, "@"): rows.select(
                self.vertex_key_col(vertex).alias("k_0")).dropDuplicates()}
        fields = self.schema.vertex(vertex).identity_fields
        return {(vertex, ""): rows.select(*[
            F.col(f).alias(f"k_{i}") for i, f in enumerate(fields)
        ]).dropDuplicates()}

    def _bfs(
        self,
        initial: dict[tuple[str, str], DataFrame],
        hops: int,
        direction: Direction,
        relations: list[str] | None,
        plan_sink: list[str] | None = None,
    ) -> DataFrame:
        """Multi-source, multi-type BFS from per-(type, address-space) seed
        frontiers.

        Returns ``(node_key, node_type, hop)``, minimal hop per node over
        ALL sources (seeds are hop 0).
        """
        # Type-aware BFS: the frontier is a dict of native identity keys
        # per (vertex type, identity space) — space "" is the primary
        # identity, named spaces are declared secondary identities (the
        # merged-away / retired key fallback) — and each hop joins ONLY the
        # edge projections whose source space currently has a frontier.
        # Versus a type-erased union-of-all-edges join this (a) never scans
        # edge types unreachable this hop — at scale, per-type edge tables
        # make that real partition pruning — and (b) joins on native key
        # columns instead of building a string node_key for every edge row
        # in the graph.
        from graflo_spark.ops.util import Checkpointer

        adjacency = self._adjacency(relations, direction)
        # projections are built on first use: an edge type no frontier
        # reaches (and its _with_canon resolution) never costs a plan
        canon: dict[EdgeId, DataFrame] = {}
        projections: dict[_AdjEntry, DataFrame] = {}

        def projection(e: _AdjEntry) -> DataFrame:
            if e not in projections:
                if e.eid not in canon:
                    canon[e.eid] = self._adjacency_frame(e.eid, relations)
                projections[e] = canon[e.eid].select(
                    *[F.col(c).alias(f"a_{i}") for i, c in enumerate(e.a_cols)],
                    *[F.col(c).alias(f"b_{i}") for i, c in enumerate(e.b_cols)],
                )
            return projections[e]

        def record_plan(label: str, ran: DataFrame) -> None:
            # ``ran`` was just EXECUTED, so its query execution holds the
            # FINAL adaptive plan (AQE's actual join choice), which the
            # checkpointed frame's own plan (a scan of cached partitions)
            # hides
            if plan_sink is not None:
                mode = (ran.sparkSession._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted"))
                plan_sink.append(f"-- {label}\n" + ran._jdf.queryExecution()
                                 .explainString(mode))

        # keep=None: the RESULT unions every hop's checkpointed frame, so
        # no generation may be freed mid-run; ck.finish runs the merged
        # output — the last hop's joins included — and then reclaims them
        # all: one bounded block survives the traversal instead of seeds +
        # one per (hop, type).
        spark = next(iter(initial.values())).sparkSession
        with Checkpointer(spark, keep=None) as ck:

            def counted(df: DataFrame, slot: str,
                        label: str | None = None) -> tuple[DataFrame, int]:
                """Eager checkpoint of ``df`` plus its exact row count,
                read off the checkpoint's own job (an Observation) rather
                than a second count() action."""
                obs = Observation()
                ran = df.observe(obs, F.count(F.lit(1)).alias("n"))
                out = ck(ran, slot)
                if label is not None:
                    record_plan(label, ran)
                return out, obs.get["n"]

            visited: dict[tuple[str, str], DataFrame] = {}
            frontier: dict[tuple[str, str], DataFrame] = {}
            # every probed frontier is checkpointed and counted, so
            # broadcast the probe side only while it is provably small. A
            # multi-hop frontier on a dense graph can approach all
            # vertices; a FORCED broadcast there OOMs executors at scale,
            # so past the threshold the hint is dropped and AQE picks the
            # join strategy from the checkpoint's real stats.
            frontier_rows: dict[tuple[str, str], int] = {}
            last_hop: list[str] = []  # plan_sink labels ck.finish runs
            for t, df in initial.items():
                df, cnt = counted(df, f"seed:{t[0]}:{t[1] or 'primary'}")
                visited[t] = df.withColumn("hop", F.lit(0))
                # an empty seed space (e.g. the secondary space of a type
                # whose rows are all primary-keyed — the common case) must
                # not cost a join per hop
                if cnt > 0:
                    frontier[t] = df
                    frontier_rows[t] = cnt
            for h in range(1, hops + 1):
                reached: dict[tuple[str, str], DataFrame] = {}
                for e in adjacency:
                    if e.src not in frontier:
                        continue
                    n_src, n_dst = len(e.a_cols), len(e.b_cols)
                    probe = frontier[e.src].select(*[
                        F.col(f"k_{i}").alias(f"p_{i}") for i in range(n_src)
                    ])
                    if frontier_rows[e.src] <= BROADCAST_FRONTIER_MAX_ROWS:
                        probe = F.broadcast(probe)
                    # NULL-SAFE equi-join (still an equi-join for the
                    # planner — EqualNullSafe extracts as a hash join key):
                    # a PARTIAL-null multi-field key is a legitimate
                    # address after an overlapping-identity merge (the
                    # merged-away rows carry values for only their own
                    # fields), so (1, NULL) must match (1, NULL)
                    cond = F.col("a_0").eqNullSafe(F.col("p_0"))
                    for i in range(1, n_src):
                        cond = cond & F.col(f"a_{i}").eqNullSafe(
                            F.col(f"p_{i}"))
                    keep = F.col("b_0").isNotNull()
                    for i in range(1, n_dst):
                        keep = keep | F.col(f"b_{i}").isNotNull()
                    nxt = (
                        projection(e).join(probe, cond)
                        # an ALL-null endpoint key is not an addressable
                        # node (the degenerate fallback address); partial
                        # nulls stay — the null-safe visited anti-join
                        # below handles their cycle avoidance
                        .filter(keep)
                        .select(*[
                            F.col(f"b_{i}").alias(f"k_{i}") for i in range(n_dst)
                        ])
                        .dropDuplicates()
                    )
                    reached[e.dst] = (
                        reached[e.dst].unionByName(nxt) if e.dst in reached
                        else nxt
                    )
                frontier = {}
                frontier_rows = {}
                for t, df in reached.items():
                    new = df.dropDuplicates()
                    if t in visited:
                        # cycle avoidance: visited-set anti-join (reference
                        # traversal.py row markers), NULL-SAFE so a
                        # partial-null key that was already visited does
                        # not re-enter the frontier every hop
                        seen = visited[t].drop("hop").select(*[
                            F.col(f"k_{i}").alias(f"v_{i}")
                            for i in range(len(new.columns))
                        ])
                        anti = F.col("k_0").eqNullSafe(F.col("v_0"))
                        for i in range(1, len(new.columns)):
                            anti = anti & F.col(f"k_{i}").eqNullSafe(
                                F.col(f"v_{i}"))
                        new = new.join(seen, anti, "left_anti")
                    label = f"hop {h} -> {t[0]}:{t[1] or 'primary'}"
                    if h < hops:
                        # a frontier the next hop probes: checkpoint it —
                        # short lineage, and AQE sizes the next hop's join
                        # from real stats
                        new, cnt = counted(
                            new, f"hop:{t[0]}:{t[1] or 'primary'}", label)
                        if cnt == 0:
                            continue
                        frontier[t] = new
                        frontier_rows[t] = cnt
                    else:
                        # the last hop stays lazy: nothing probes it, so
                        # it runs once, inside ck.finish (an empty one
                        # adds no rows)
                        last_hop.append(label)
                    keyed = new.withColumn("hop", F.lit(h))
                    visited[t] = (
                        visited[t].unionByName(keyed) if t in visited else keyed
                    )
                if not frontier:
                    break
            outs = []
            for (t, space), df in visited.items():
                if space == "@":
                    # canonical-key space: k_0 IS the node_key (the same
                    # winner key vertex_key_col emits, so output joins
                    # vertex-side keys exactly)
                    outs.append(df.select(
                        F.col("k_0").alias("node_key"),
                        F.lit(t).alias("node_type"),
                        "hop",
                    ))
                    continue
                fields = self.schema.vertex(t).identity_fields
                parts = [F.lit(t)] + [F.col(f"k_{i}").cast("string")
                                      for i in range(len(fields))]
                outs.append(
                    df.select(
                        F.concat_ws("\x1f", *parts).alias("node_key"),
                        F.lit(t).alias("node_type"),
                        "hop",
                    )
                )
            merged = outs[0]
            for o in outs[1:]:
                merged = merged.unionByName(o)
            out = ck.finish(merged)
            for label in last_hop:
                record_plan(label, merged)
            return out

    def _adjacency(
        self,
        relations: list[str] | None,
        direction: Direction,
    ) -> list[_AdjEntry]:
        """Per-edge-type traversal orientations for the typed BFS — plan
        METADATA only; :meth:`_bfs` builds an entry's
        ``df[a_0..a_m, b_0..b_n]`` projection (from
        :meth:`_adjacency_frame`) the first time a frontier reaches its
        source. Reversed entries are added per direction / undirected
        semantics, matching :meth:`typed_edge_list`.

        For an edge table carrying only the primary identity key columns —
        every table the ingest pipeline writes — this is exactly one entry
        per orientation with no added filter: the pre-funnel plan, native
        identity key columns, space ``""``. A MULTI-space endpoint type (a
        store that went through identity-changing migrations) uses the
        canonical addressing instead: the side's key is the canonical
        string column :meth:`_adjacency_frame` resolves through
        :meth:`_with_canon`, and the side becomes ONE entry in canonical
        space ``"@"`` — no per-space fan-out, and edges keyed in an older
        space than their endpoint's current winner still traverse (r14
        fuzz, seed 1201)."""
        def side(vname, prefix):
            """((type, space), key column names): native identity columns
            for a single-space type; the canonical string key (space "@")
            for a multi-space type."""
            if self._multi_space(vname):
                return (vname, "@"), (f"__{prefix}canon",)
            fields = self.schema.vertex(vname).identity_fields
            return (vname, ""), tuple(f"{prefix}{f}" for f in fields)

        out: list[_AdjEntry] = []
        for eid, df in self.edges.items():
            cols = set(df.columns)
            if ("_relation" not in cols and relations is not None
                    and eid.relation not in relations):
                continue
            for vname, prefix in ((eid.source, "_src_"),
                                  (eid.target, "_dst_")):
                present = [
                    (n, fs) for n, fs in self._identity_funnel(vname)
                    if fs and all(f"{prefix}{f}" in cols for f in fs)]
                if not present:
                    raise ValueError(
                        f"edge table {eid} carries no complete identity "
                        f"key column set for {vname!r}")
            try:
                directed = self.schema.edge(
                    eid.source, eid.target, eid.relation
                ).directed
            except KeyError:
                directed = True
            src, src_cols = side(eid.source, "_src_")
            dst, dst_cols = side(eid.target, "_dst_")
            if direction in (Direction.OUT, Direction.ANY) or not directed:
                out.append(_AdjEntry(eid, src, dst, src_cols, dst_cols))
            if direction in (Direction.IN, Direction.ANY) or not directed:
                out.append(_AdjEntry(eid, dst, src, dst_cols, src_cols))
        if not out:
            raise ValueError("graph has no edges")
        return out

    def _adjacency_frame(self, eid: EdgeId,
                         relations: list[str] | None) -> DataFrame:
        """Edge table ``eid`` as the BFS reads it: filtered to
        ``relations`` when it carries a ``_relation`` column, and each
        multi-space endpoint side's canonical key resolved into
        ``___src_canon`` / ``___dst_canon`` (the :class:`_AdjEntry` key
        columns of space ``"@"``)."""
        df = self.edges[eid]
        if "_relation" in df.columns and relations is not None:
            df = df.filter(F.col("_relation").isin(relations))
        for vname, prefix in ((eid.source, "_src_"), (eid.target, "_dst_")):
            if self._multi_space(vname):
                df = self._with_canon(df, vname, prefix, f"__{prefix}canon")
        return df

    def traverse(
        self,
        seeds: list[tuple[str, FilterExpression | dict | list]],
        hops: int = 1,
        direction: Direction = Direction.ANY,
        relations: list[str] | None = None,
        caps: QueryCaps | None = None,
    ) -> DataFrame:
        """Multi-seed reachability, merged + deduped (reference TraverseQuery,
        db/conn.py:791-829).

        All seeds run as ONE multi-source BFS: same-type seed filters are
        OR-merged into a single per-type frontier, so k seeds cost one
        per-hop join chain instead of k full traversals. Equivalent because
        min-hop from the merged frontier == min over per-seed min-hops
        (the reference's merged-seed dedup semantics)."""
        caps = caps or QueryCaps()
        caps.check_seeds(len(seeds))
        caps.check_hops(hops)
        by_type: dict[str, F.Column] = {}
        for v, a in seeds:
            cond = FilterExpression.parse(a).to_column()
            by_type[v] = cond if v not in by_type else (by_type[v] | cond)
        initial: dict[tuple[str, str], DataFrame] = {}
        for v, cond in by_type.items():
            initial.update(self._seed_frontiers(v, cond))
        # _bfs already emits one row per node at its minimal hop: the
        # merged-result contract needs no aggregate
        return self._bfs(initial, hops, direction, relations)

    def _algo_edges(self, relations: list[str] | None) -> DataFrame:
        """The (id_a, id_b) edge projection every graph-algorithm wrapper
        feeds to ops/graphalgo — one definition, not five copies."""
        return self.typed_edge_list(
            relations=relations, direction=Direction.OUT
        ).select(F.col("src_key").alias("id_a"), F.col("dst_key").alias("id_b"))

    def connected_components(
        self,
        relations: list[str] | None = None,
        max_iter: int = 25,
    ) -> DataFrame:
        """Connected components over the (undirected view of the) graph:
        ``(node_key, node_type, component)`` where ``component`` is the
        lexicographically-minimal node_key of the component. Net-new vs the
        reference query surface; distributed star contraction
        (:func:`graflo_spark.ops.graphalgo.connected_components`, O(log n)
        rounds regardless of diameter). Isolated vertices (no edges under
        the relation filter) are their own singleton components."""
        from graflo_spark.ops import graphalgo as ga

        edges = self._algo_edges(relations)
        cc = ga.connected_components(edges, max_iter=max_iter)
        nodes = self._all_typed_nodes()
        return (
            nodes.join(cc, nodes["node_key"] == cc["node"], "left")
            .select(
                "node_key",
                "node_type",
                F.coalesce(F.col("component"), F.col("node_key")).alias(
                    "component"),
            )
        )

    def pagerank(
        self,
        relations: list[str] | None = None,
        damping: float = 0.85,
        max_iter: int = 20,
        tol: float | None = 1e-6,
    ) -> DataFrame:
        """PageRank over the directed typed edge list:
        ``(node_key, node_type, rank)`` for EVERY vertex (isolated vertices
        get the teleport floor ``1 - damping``). Net-new vs the reference
        query surface; power iteration with reused hash partitioning and
        dangling-mass conservation
        (:func:`graflo_spark.ops.graphalgo.pagerank`)."""
        from graflo_spark.ops import graphalgo as ga

        edges = self._algo_edges(relations)
        pr = ga.pagerank(
            edges, damping=damping, max_iter=max_iter, tol=tol)
        nodes = self._all_typed_nodes()
        return (
            nodes.join(pr, nodes["node_key"] == pr["node"], "left")
            .select(
                "node_key", "node_type",
                F.coalesce(F.col("rank"),
                           F.lit(1.0 - float(damping))).alias("rank"),
            )
        )

    def triangle_count(
        self,
        relations: list[str] | None = None,
        per_node: bool = False,
    ) -> DataFrame:
        """Exact triangle count of the undirected view of the graph —
        1-row ``(n_triangles)``, or per-corner ``(node_key, node_type,
        n_triangles)`` with ``per_node=True`` (vertices in no triangle get
        0). Net-new vs the reference query surface; compact-forward
        orientation (:func:`graflo_spark.ops.graphalgo.triangle_count`)."""
        from graflo_spark.ops import graphalgo as ga

        edges = self._algo_edges(relations)
        tri = ga.triangle_count(edges, per_node=per_node)
        if not per_node:
            return tri
        nodes = self._all_typed_nodes()
        return (
            nodes.join(tri, nodes["node_key"] == tri["node"], "left")
            .select(
                "node_key", "node_type",
                F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                    "n_triangles"),
            )
        )

    def label_propagation(
        self,
        relations: list[str] | None = None,
        max_iter: int = 5,
    ) -> DataFrame:
        """Deterministic synchronous label-propagation communities over
        the undirected view: ``(node_key, node_type, label)`` for every
        vertex (isolated vertices are their own singleton community).
        Net-new vs the reference query surface
        (:func:`graflo_spark.ops.graphalgo.label_propagation`)."""
        from graflo_spark.ops import graphalgo as ga

        edges = self._algo_edges(relations)
        lp = ga.label_propagation(edges, max_iter=max_iter)
        nodes = self._all_typed_nodes()
        return (
            nodes.join(lp, nodes["node_key"] == lp["node"], "left")
            .select(
                "node_key", "node_type",
                F.coalesce(F.col("label"), F.col("node_key")).alias("label"),
            )
        )

    def link_prediction(
        self,
        relations: list[str] | None = None,
        min_common: int = 1,
        exclude_existing: bool = True,
        max_degree: int | None = None,
    ) -> DataFrame:
        """Common-neighbors / Jaccard / Adamic-Adar link-prediction scores
        over the undirected view: ``(key_a, key_b, common, jaccard,
        adamic_adar)``. ``max_degree`` caps wedge-center hub degree (the
        deg^2 fan-out guard — see
        :func:`graflo_spark.ops.graphalgo.link_prediction_scores`)."""
        from graflo_spark.ops import graphalgo as ga

        edges = self._algo_edges(relations)
        return ga.link_prediction_scores(
            edges, min_common=min_common, exclude_existing=exclude_existing,
            max_degree=max_degree,
        ).select(
            F.col("id_a").alias("key_a"), F.col("id_b").alias("key_b"),
            "common", "jaccard", "adamic_adar",
        )

    def _all_typed_nodes(self) -> DataFrame:
        """(node_key, node_type) of every vertex in the view."""
        parts = [
            self.vertices[name].select(
                self.vertex_key_col(name).alias("node_key"),
                F.lit(name).alias("node_type"),
            )
            for name in self.vertices
        ]
        nodes = parts[0]
        for p in parts[1:]:
            nodes = nodes.unionByName(p)
        return nodes

    def hydrate(self, nodes: DataFrame, vertex: str) -> DataFrame:
        """Fetch full vertex docs for reached node keys (reference
        bfs_neighbors far-endpoint hydration, traversal.py:412-433)."""
        v = self.vertices[vertex]
        keyed = v.withColumn("node_key", self.vertex_key_col(vertex))
        return keyed.join(
            nodes.filter(F.col("node_type") == vertex).select("node_key"), "node_key"
        ).drop("node_key")
