"""Distributed graph algorithms over edge-pair DataFrames.

The first consumer is near-duplicate CLUSTERING: pairwise dedup candidates
(MinHash/SimHash/embedding LSH) only say "a ~ b"; keeping one representative
per duplicate *group* needs the transitive closure — connected components.

``connected_components`` implements the alternating large-star/small-star
contraction (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014): each round is a constant number of groupBy/join shuffles and the
parent forest provably flattens in O(log n) rounds REGARDLESS of graph
diameter — unlike naive min-label propagation, whose round count equals the
diameter (a 100 TB web-graph chain would never finish). Rounds are
checkpointed to truncate lineage, so plan size stays constant as iterations
accumulate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from graflo_spark.ops.util import Checkpointer, small_input


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of every edge, self-loops dropped."""
    fwd = edges.select(F.col("a"), F.col("b"))
    rev = edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    return fwd.unionByName(rev).filter(F.col("a") != F.col("b")).distinct()


def _both_dirs_of_oriented(edges: DataFrame) -> DataFrame:
    """Both directions of an edge set whose rows are all strictly
    ORIENTED (a > b) and distinct — the star-contraction outputs. The
    forward rows (a > b) and reversed rows (a < b) cannot collide, so the
    union IS the exact symmetric closure with no dedup shuffle needed."""
    fwd = edges.select(F.col("a"), F.col("b"))
    rev = edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    return fwd.unionByName(rev)


# Star-contraction shape note (r14 optimization round): a window-min
# rewrite of the stars (attach the per-group minimum via
# Window.partitionBy("a") instead of groupBy + join) was measured and
# REVERTED — the window shuffles every edge ROW into the sort (no
# partial aggregation), where the groupBy ships only per-partition
# minima and AQE broadcasts the node-sized minima table back onto the
# edges (tasks 316 -> 1222, near_dup_clusters wall 4.8 -> 7.0 s at
# sf0.1). The groupBy + broadcast-join shape is also the scale-safe one:
# the edge set is never exchanged for the join.

def _driver_components(edges: DataFrame) -> DataFrame:
    """Union-find collapse of a SMALL (driver-bounded, already
    materialized) symmetric edge set — the broadcast-join principle
    applied to connected components: below the bound, O(log n)
    distributed star rounds (each 2+ shuffles, a checkpoint and a
    convergence count) cost orders of magnitude more scheduler time
    than one bounded collect. Returns the identical
    ``(node, component = min id of the component)`` mapping the star
    contraction produces, as a local relation."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        a, b = row[0], row[1]
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    t = edges.schema["a"].dataType
    schema = T.StructType([
        T.StructField("node", t), T.StructField("component", t)])
    # ONE slice: the default createDataFrame parallelizes into
    # defaultParallelism pickled slices, so every downstream action over
    # this few-hundred-row local result pays a 32-task Python-boundary
    # stage at local defaults. (NOT .coalesce(1): a no-shuffle coalesce
    # computes the 32 parent Python-RDD partitions SEQUENTIALLY in one
    # task — 32 serial Python worker rounds, measured ~7 s per action.)
    spark = edges.sparkSession
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(v, comp_min[find(v)]) for v in parent], 1),
        schema)


def _sorted_pairs(rows) -> list:
    """Collected edge rows as (a, b) tuples in a DETERMINISTIC order
    (repr-keyed, so any id type sorts): the driver fast paths accumulate
    float64 in this order, making their output a pure function of the
    edge SET rather than of collect()'s partition order."""
    return sorted(
        ((r[0], r[1]) for r in rows),
        key=lambda p: (repr(p[0]), repr(p[1])))


def _driver_pagerank(
    edge_rows, damping: float, max_iter: int, personalized
) -> list:
    """Power iteration over a SMALL collected edge set — the exact update
    of the distributed loop (rank' = (1-d)*t + d*dangling*t/n + d*inflow,
    ranks init 1.0, dangling mass redistributed via t/n) in driver
    float64. Sums accumulate in sorted-edge order (deterministic); the
    distributed groupBy's own accumulation order is partition-dependent,
    so both paths agree to float-reassociation noise (~1e-15 relative,
    pinned at 1e-9 by test_pagerank_driver_path_matches_distributed)."""
    pairs = _sorted_pairs(edge_rows)
    nodes = sorted({v for p in pairs for v in p}, key=repr)
    n = len(nodes)
    od: dict = {}
    for s, _ in pairs:
        od[s] = od.get(s, 0) + 1
    if personalized:
        seeds = set(personalized)
        share = float(n) / len(personalized)
        t = {v: (share if v in seeds else 0.0) for v in nodes}
    else:
        t = {v: 1.0 for v in nodes}
    d = float(damping)
    rank = {v: 1.0 for v in nodes}
    for _ in range(max_iter):
        dm = 0.0
        for v in nodes:
            if v not in od:
                dm += rank[v]
        inflow: dict = {}
        for s, dst in pairs:
            inflow[dst] = inflow.get(dst, 0.0) + rank[s] / od[s]
        rank = {
            v: (1.0 - d) * t[v] + d * dm * t[v] / n
            + d * inflow.get(v, 0.0)
            for v in nodes
        }
    return [(v, rank[v]) for v in nodes]


def _driver_lpa(edge_rows, max_iter: int) -> list:
    """Synchronous min-tie label propagation over a SMALL collected
    symmetric edge set — integer label arithmetic, so the result is
    EXACTLY the distributed loop's (same histogram, same (-count, label)
    argmin), with no float caveat at all."""
    pairs = _sorted_pairs(edge_rows)
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
    labels = {v: v for v in adj}
    for _ in range(max_iter):
        new = {}
        for v, nbrs in adj.items():
            cnt: dict = {}
            for u in nbrs:
                lu = labels[u]
                cnt[lu] = cnt.get(lu, 0) + 1
            new[v] = min((-c, l) for l, c in cnt.items())[1]
        labels = new
    return sorted(labels.items(), key=lambda kv: repr(kv[0]))


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the
    minimum of N(u) ∪ {u}."""
    m = edges.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        edges.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over its smaller-or-equal neighborhood: connect every
    member (and u) to the minimum."""
    smaller = edges.filter(F.col("b") <= F.col("a"))
    m = smaller.groupBy("a").agg(F.min("b").alias("m"))
    out = (
        smaller.join(m, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .unionByName(m.select(F.col("a"), F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return out


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_collapse_max_edges: int = 100_000,
) -> DataFrame:
    """Connected components of the undirected graph given as id pairs.

    Returns (node, component) with ``component`` = the minimum node id in the
    component — a deterministic representative. Every node that appears in
    ``pairs`` gets a row (roots map to themselves); isolated nodes never in
    ``pairs`` don't appear (callers outer-join them back; see
    ``near_dup_clusters``).

    Scale design: every round is groupBy + join on node ids (AQE-safe equi
    shuffles, map-side combinable), O(log n) rounds by the star-contraction
    bound, per-round ``localCheckpoint`` so the logical plan doesn't grow
    with iterations — tracked by :class:`~graflo_spark.ops.util.Checkpointer`,
    so superseded rounds' blocks are reclaimed as the loop advances and
    only the node-sized result block survives the call. No driver-side state beyond
    the per-round convergence counter (a count() action on the round's
    delta).

    Small graphs (symmetric edge count <= ``driver_collapse_max_edges``,
    read off the count the loop takes anyway on the already-checkpointed
    edge set — no extra work) collapse by driver-side union-find instead
    (r14, guide §3's small-side principle): ~100k edges is a few MB on
    any driver, and the distributed rounds' scheduler fixed costs dwarf
    the arithmetic at that size. Output identical either way; set it to
    0 to force the distributed path.
    """
    with Checkpointer(pairs.sparkSession) as ck:
        edges = ck(_symmetrize(
            pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))),
            "edges")

        # Convergence criterion (Kiveris et al. §3): iterate until the edge
        # set is STABLE across a full large-star/small-star round. A weaker
        # check ("every parent is a root") is unsound — a node can hold
        # edges to two distinct roots with no parent chain between them, so
        # the loop would stop with a multi-parent forest and emit one node
        # in two components.
        prev = edges
        prev_cnt = edges.count()
        if prev_cnt <= driver_collapse_max_edges:
            out = _driver_components(edges)
            return out
        converged = False
        # Both stars emit strictly ORIENTED rows (a > b: large star maps
        # (a, b), b > a to (b, m) with m <= a < b; small star maps its
        # b <= a rows to (b, m) and (a, m) with m <= b <= a, self-loops
        # dropped), and both end in distinct(). Two exchanges per round
        # fall out of that invariant (r14 optimization round):
        #   - the symmetrize between the half-rounds is a provable NO-OP:
        #     small_star filters to b <= a, and on an all-oriented input
        #     the reversed rows (all a < b) are exactly the rows that
        #     filter discards — large_star's output can feed small_star
        #     directly;
        #   - the symmetrize before large_star needs the reversal but NOT
        #     the dedup: fwd (a > b) and rev (a < b) row sets are
        #     disjoint and the input is already distinct, so the union IS
        #     the symmetric closure (_both_dirs_of_oriented).
        # Round 1's input is the already-symmetric seed edge set, so it
        # skips the reversal too. The edge SET reaching each star is
        # bit-identical to the former symmetrize-everywhere shape (pinned
        # by test_star_round_oriented_inputs_match_symmetrized).
        already_symmetric = True
        for _ in range(max_iter):
            src = edges if already_symmetric else _both_dirs_of_oriented(edges)
            already_symmetric = False
            edges = ck(_small_star(_large_star(src)), "edges")
            cnt = edges.count()
            if cnt == prev_cnt and edges.exceptAll(prev).limit(1).count() == 0:
                # same cardinality + no edge outside prev ⇒ identical sets
                # (both sides are distinct()), so another round is a no-op.
                converged = True
                break
            prev, prev_cnt = edges, cnt
        if not converged:
            # an unconverged forest can assign one node to two components —
            # silently returning it would corrupt downstream dedup
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds; the star-contraction bound is O(log n) — raise "
                "max_iter")

        comp = edges.select(
            F.col("a").alias("node"), F.col("b").alias("component"))
        roots = comp.select(
            F.col("component").alias("node"), F.col("component")).distinct()
        return ck.finish(comp.unionByName(roots).distinct())


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Duplicate-group assignment: every doc gets a ``cluster`` id (the
    minimum doc id of its near-dup component; singletons are their own
    cluster) and an ``is_representative`` flag. The keep-one-per-group
    training-data dedup is then ``filter(is_representative)``."""
    cc = connected_components(pairs, id_a, id_b)
    out = (
        docs.select(F.col(id_col))
        .join(cc, docs[id_col] == cc["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
        )
        .withColumn("is_representative", F.col(id_col) == F.col("cluster"))
    )
    return out


def triangle_count(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    per_node: bool = False,
) -> DataFrame:
    """Exact triangle count of the undirected graph given as id pairs —
    the standard graph-quality / community-density statistic (e.g. spam
    subgraphs in a web-crawl link graph are triangle-dense).

    Returns a 1-row ``(n_triangles)`` frame, or per-corner counts
    ``(node, n_triangles)`` with ``per_node=True`` (nodes in no triangle
    are absent; each triangle credits all three corners).

    Scale design — the compact-forward orientation (Suri &
    Vassilvitskii, WWW'11 MapReduce formulation; public algorithm):
    orient every edge from the (degree, id)-smaller endpoint to the
    larger. Every wedge is then generated at its lowest-rank corner, and
    the out-degree under this orientation is O(sqrt(m)) on ANY graph, so
    the wedge fan-out is bounded even on power-law graphs where a naive
    star center would emit deg^2 ~ n^2 pairs. Three equi-joins + one
    aggregate; no cross joins, no iteration.

    A fan-out-sized repartition of the wedge stream (the
    :func:`link_prediction_scores` treatment) was measured at 20x and
    REVERTED: the closing sort-merge join spills fine at the default
    width (388 s with the extra exchange vs 323-360 s without — the cost
    is shuffle volume, not per-task sort size, so the extra disk pass
    only adds). Link prediction differs because its HASH aggregate state
    is per-task-memory-bound; a sort can spill where a hash map cannot.
    """
    # canonical undirected edge set, self-loops dropped
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n")).unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by total order (degree, id): lower rank -> higher rank
    ranked = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.struct("da", F.col("a").alias("i")))
        .otherwise(F.struct(F.col("db").alias("da"), F.col("b").alias("i")))
        .alias("_sr"),
        F.when(a_first, F.struct(F.col("db").alias("da"), F.col("b").alias("i")))
        .otherwise(F.struct("da", F.col("a").alias("i"))).alias("_dr"),
    )
    # wedges at the lowest-rank corner: out-neighbor pairs (v, w), v below
    # w in the same total order, so the closing edge (if any) is the
    # oriented edge v -> w — ONE equi-join closes the wedge
    o1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("_dr").alias("rv"))
    o2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("_dr").alias("rw"))
    wedges = o1.join(o2, "u").filter(
        (F.col("rv.da") < F.col("rw.da"))
        | ((F.col("rv.da") == F.col("rw.da")) & (F.col("rv.i") < F.col("rw.i"))))
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    if not per_node:
        return tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    pairs: DataFrame,
    id_src: str = "id_a",
    id_dst: str = "id_b",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    personalized: list | None = None,
    checkpoint_interval: int = 4,
    driver_collapse_max_edges: int = 100_000,
) -> DataFrame:
    """PageRank over a DIRECTED edge list (public power-iteration
    formulation). Returns ``(node, rank)`` for every node appearing in
    ``pairs``; ranks sum to the node count (the classic normalization, so
    rank 1.0 is "averagely important"). Dangling nodes (no out-edges)
    redistribute their mass uniformly, keeping the total conserved.

    ``personalized``: a seed-node list switches to PERSONALIZED PageRank —
    the teleport mass (and the dangling redistribution) concentrates
    uniformly on the seeds instead of the whole graph, so ranks measure
    proximity TO THE SEED SET (the 'related items' / topic-sensitive
    ranking primitive). Seeds absent from the edge set simply contribute
    nothing (their teleport share is lost; pass valid seeds). Total mass
    is still conserved at n.

    Scale design: each iteration is ONE equi-join of the rank vector with
    the out-edge list plus one groupBy — both shuffles hash on node id, so
    successive iterations reuse the same partitioning; the dangling-mass
    term is a scalar aggregate (tiny). Per-iteration ``localCheckpoint``
    truncates lineage like :func:`connected_components`. With ``tol`` set,
    iteration stops early when the L1 delta falls below ``tol * n`` (one
    extra small aggregate per round); ``tol=None`` always runs
    ``max_iter`` rounds — the deterministic-work mode for benchmarking.

    Driver-round-trip economics (r14, guide §5): the rank vector is
    referenced ONCE per round — inflow joins the static per-node
    constants frame, not last round's ranks — so un-checkpointed lineage
    grows LINEARLY and ``checkpoint_interval`` can batch several rounds
    into one action (same shuffles, fewer driver round-trips / scheduler
    fixed costs). With ``tol`` set, every round runs a delta action
    anyway, so the interval is forced to 1 (otherwise each delta would
    re-execute the un-materialized tail — cross-query plans share no
    exchange reuse). Graphs with NO dangling nodes (checked once
    up-front) skip the per-round dangling aggregate + broadcast
    entirely; the update term it fed is exactly ``+ 0.0``.

    Small graphs (r14, the :func:`_driver_components` principle): with
    ``tol=None`` (the deterministic-work mode) and at most
    ``driver_collapse_max_edges`` distinct edges — probed with a bounded
    ``take`` on the already-checkpointed edge set, attempted only when
    the node count the loop takes anyway allows it — the whole power
    iteration runs driver-side (:func:`_driver_pagerank`): ~100k edges
    is a few MB, and max_iter scheduler round-trips dwarf the arithmetic
    at that size. Ranks agree with the distributed loop to
    float-reassociation noise (both paths' sum orders are arbitrary
    associations of the same float64 terms; the distributed one is not
    even self-deterministic across runs). Set it to 0 to force the
    distributed path; ``tol`` mode always takes the distributed path (the
    early-stop delta is defined by the distributed accumulation).
    """
    with Checkpointer(pairs.sparkSession) as ck:
        edges = ck(
            pairs.select(F.col(id_src).alias("src"), F.col(id_dst).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct(),
            "edges")
        # driver fast path probe BEFORE the nodes build: the driver
        # iteration derives the node set (src ∪ dst) and n from the
        # collected edges, so a fitting graph skips the nodes
        # checkpoint + count entirely. A large graph pays one bounded
        # take (~a few MB) on the already-checkpointed edge blocks.
        rows = (small_input(edges, driver_collapse_max_edges)
                if tol is None else None)
        if rows is not None:
            from pyspark.sql import types as T

            ranks_local = _driver_pagerank(
                rows, damping, max_iter, personalized)
            node_t = edges.schema["src"].dataType
            schema = T.StructType([
                T.StructField("node", node_t),
                T.StructField("rank", T.DoubleType())])
            # one slice — see _driver_components on why not coalesce
            out = pairs.sparkSession.createDataFrame(
                pairs.sparkSession.sparkContext.parallelize(
                    ranks_local, 1),
                schema)
            return out
        nodes = ck(
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct(),
            "nodes")
        n = nodes.count()
        if n == 0:
            return ck.finish(nodes.withColumn("rank", F.lit(0.0)))
        outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
        # out-edges annotated once with 1/outdegree; reused every iteration
        contrib_edges = ck(edges.join(outdeg, "src"), "contrib")

        d = float(damping)
        # teleport weight per node: uniform 1.0 classically; n/|seeds| on
        # the seed set (0 elsewhere) for personalized mode. The same update
        # expression serves both:
        # rank' = (1-d)*t + d*dangling*t/n + d*inflow.
        if personalized:
            t_expr = F.when(
                F.col("node").isin(list(personalized)),
                F.lit(float(n) / len(personalized)),
            ).otherwise(F.lit(0.0))
        else:
            t_expr = F.lit(1.0)
        # Per-node CONSTANTS (dangling flag, teleport weight) live in ONE
        # static checkpointed frame the loop re-joins every round — the
        # rank frame itself carries only (node, rank), so each round's
        # shuffle ships two columns and the rank vector is referenced
        # exactly once per round (linear un-checkpointed lineage).
        node_const = ck(
            nodes.join(
                outdeg.select(F.col("src").alias("node"),
                              F.lit(True).alias("_has_out")),
                "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_has_out"), F.lit(False)).alias("_has_out"),
                t_expr.alias("_t")),
            "const")
        # dangling nodes are a property of the EDGE SET, not of the
        # iteration: check once; a no-dangling graph skips the per-round
        # mass aggregate + broadcast (its term is exactly + 0.0). When
        # dangling mass DOES flow, the rank frame carries the _has_out
        # flag (the aggregate is a filter+sum over it — two references
        # per round) and the interval stays 1: batched rounds with a
        # twice-referenced un-materialized tail would double plan copies
        # per round.
        has_dangling = (
            node_const.filter(~F.col("_has_out")).limit(1).count() > 0)
        rank_cols = ["node", "rank"] + (["_has_out"] if has_dangling else [])
        ranks = node_const.select(
            "node", F.lit(1.0).alias("rank"), "_has_out"
        ).select(*rank_cols)
        interval = (1 if tol is not None or has_dangling
                    else max(1, checkpoint_interval))
        for i in range(max_iter):
            if has_dangling:
                # mass of dangling nodes (rank with no out-edges) stays
                # IN-PLAN as a broadcast 1-row aggregate instead of a
                # driver-side .first()
                dangling = (
                    ranks.filter(~F.col("_has_out"))
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
                )
            inflow = (
                contrib_edges.join(
                    ranks.select(F.col("node").alias("src"), "rank"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("od")).alias("_in"))
            )
            base = node_const.join(inflow, "node", "left")
            if has_dangling:
                new_ranks = base.crossJoin(F.broadcast(dangling)).select(
                    "node",
                    (F.lit(1.0 - d) * F.col("_t")
                     + F.lit(d) * F.col("_dm") * F.col("_t") / F.lit(float(n))
                     + F.lit(d) * F.coalesce(F.col("_in"), F.lit(0.0))
                     ).alias("rank"),
                    "_has_out")
            else:
                new_ranks = base.select(
                    "node",
                    (F.lit(1.0 - d) * F.col("_t")
                     + F.lit(d) * F.coalesce(F.col("_in"), F.lit(0.0))
                     ).alias("rank"))
            if (i + 1) % interval == 0 and (tol is not None
                                            or i != max_iter - 1):
                new_ranks = ck(new_ranks, "ranks")
            if tol is not None:
                delta = (
                    new_ranks.join(
                        ranks.select("node", F.col("rank").alias("_old")),
                        "node")
                    .agg(F.sum(F.abs(F.col("rank") - F.col("_old"))))
                    .first()[0] or 0.0
                )
                ranks = new_ranks
                if delta < tol * n:
                    break
            else:
                ranks = new_ranks
        return ck.finish(ranks.select("node", "rank"))


def label_propagation(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 5,
    checkpoint_interval: int = 4,
    driver_collapse_max_edges: int = 100_000,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007, public) with a deterministic tie-break: labels start as the
    node id; each round every node adopts the label most frequent among
    its neighbors, ties resolved to the SMALLEST label; all nodes update
    from the previous round's labels simultaneously. Returns
    ``(node, label)`` for every node in ``pairs``.

    Determinism is the design choice here: classic asynchronous LPA with
    random tie-breaks is irreproducible run-to-run, which disqualifies it
    from oracle-style verification and from any pipeline that must be
    replayable — fixed iterations + min-label ties make the output a pure
    function of the edge set (the same determinism stance as the min-id
    components of :func:`connected_components`). Synchronous updates can
    oscillate two-color patterns on bipartite subgraphs; run an odd/even
    ``max_iter`` probe if that matters for your graph.

    Scale shape: each round is one equi-join of the label vector with the
    symmetrized edge list (shuffle on node id, reused across rounds) plus
    one count aggregate and one row_number window over the per-node label
    histogram — partition sizes bounded by a node's distinct neighbor
    LABELS, not its degree. The label vector is referenced ONCE per
    round (the histogram join), so un-checkpointed lineage grows
    linearly and ``checkpoint_interval`` batches rounds into one action
    (same shuffles, fewer driver round-trips — r14, guide §5).

    Small graphs (symmetric edge count <= ``driver_collapse_max_edges``,
    probed by a bounded ``take`` on the checkpointed edge set) run the
    whole propagation driver-side (:func:`_driver_lpa`) — integer label
    arithmetic, so the output is EXACTLY the distributed loop's, pinned
    by test_lpa_driver_path_matches_distributed. 0 forces the
    distributed path."""
    with Checkpointer(pairs.sparkSession) as ck:
        edges = ck(_symmetrize(
            pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))),
            "edges")
        rows = small_input(edges, driver_collapse_max_edges)
        if rows is not None:
            from pyspark.sql import types as T

            node_t = edges.schema["a"].dataType
            schema = T.StructType([
                T.StructField("node", node_t),
                T.StructField("label", node_t)])
            # one slice — see _driver_components on why not coalesce
            out = pairs.sparkSession.createDataFrame(
                pairs.sparkSession.sparkContext.parallelize(
                    _driver_lpa(rows, max_iter), 1),
                schema)
            return out
        labels = (
            edges.select(F.col("a").alias("node")).distinct()
            .withColumn("label", F.col("node"))
        )
        # "most frequent label, ties to the smallest" = min of the struct
        # (-count, label): a second HASH aggregate over the per-(node,
        # label) histogram, with map-side partial aggregation, instead of
        # the former row_number window (whose sort of the whole histogram
        # per round bought nothing — only the argmin row was kept)
        best = F.min(F.struct(
            (-F.col("c")).alias("_nc"), F.col("label"))).alias("_b")
        interval = max(1, checkpoint_interval)
        for i in range(max_iter):
            hist = (
                edges.join(
                    labels.select(F.col("node").alias("b"), "label"), "b")
                .groupBy(F.col("a").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            labels = (
                hist.groupBy("node").agg(best)
                .select("node", F.col("_b.label").alias("label"))
            )
            if (i + 1) % interval == 0 and i != max_iter - 1:
                labels = ck(labels, "labels")
        return ck.finish(labels)


# Wedge-aggregate sizing: one reducer partition per ~2M wedge rows keeps
# the per-task hash-aggregate state around ~100 MB — spill-friendly in an
# 8 GB local heap and a no-op on a real cluster (where the same knob just
# matches reducer count to fan-out instead of to the session default).
_WEDGE_ROWS_PER_PARTITION = 2_000_000


def link_prediction_scores(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    min_common: int = 1,
    exclude_existing: bool = True,
    max_degree: int | None = None,
) -> DataFrame:
    """Neighborhood link-prediction scores over the undirected graph: for
    every node pair sharing >= ``min_common`` neighbors, the three
    classic measures (Liben-Nowell & Kleinberg 2003, public) —
    ``common`` (common-neighbor count), ``jaccard``
    (|N(u) ∩ N(v)| / |N(u) ∪ N(v)|) and ``adamic_adar``
    (sum 1/ln(deg(z)) over shared z, weighting rare bridges up). Returns
    ``(id_a, id_b, common, jaccard, adamic_adar)`` with id_a < id_b;
    ``exclude_existing`` drops pairs already adjacent (the usual
    prediction setting — score only candidate NEW links).

    Scale shape: one wedge join through the shared neighbor (the z-side
    shuffle), one count/sum aggregate per pair, two degree joins for the
    Jaccard denominator, and an optional anti-join on the edge list.
    Everything equi-keyed; nothing driver-side. Fan-out per shared
    neighbor z is deg(z)^2 — on a power-law graph ONE celebrity hub emits
    ~10^12 wedge rows, so for production graphs set ``max_degree``: wedge
    CENTERS with deg(z) > max_degree are dropped BEFORE the join (the
    ``substring_overlap_pairs`` max_df pattern — a neighbor shared with
    everyone carries no link signal, exactly like a stop-fingerprint).
    Recall trade-off: pairs whose ONLY shared neighbors are super-hubs
    disappear, `common`/`adamic_adar` count non-hub neighbors only, and
    Jaccard keeps TRUE degrees in its denominator (so it lower-bounds the
    uncapped value). Default None = exact (the sf0.01 oracle gate);
    ~10^4 is a sane cap for web-scale power-law graphs.

    The cap handles SKEWED fan-out; a dense-but-unskewed graph (every
    degree below the cap) can still emit billions of wedges — there the
    bottleneck is the pair aggregate landing on the session-default
    shuffle partition count. The exact wedge mass (sum of retained dz^2)
    is knowable BEFORE the join from the node-sized degree table, so when
    it exceeds ~2M rows per default partition the wedge stream is
    re-partitioned on (u, v) to one reducer per ~2M wedges (bounded at
    4096): per-task aggregate state stays ~100 MB and the job becomes
    disk-bound instead of OOM — measured at 6.0B wedges in an 8 GB local
    heap (SCALE.md). Small graphs skip the extra exchange entirely (plan
    unchanged, map-side partial agg retained)."""
    edges = _symmetrize(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    # wedge u—z—v (u < v): every shared neighbor contributes one row.
    # dz rides the e1 side (edge-sized, PRE-fan-out) — both cheaper than a
    # post-wedge degree join and the place the hub cap must apply to
    # actually prevent the deg(z)^2 blow-up rather than filter its output.
    zdeg = deg.select(F.col("a").alias("z"), F.col("d").alias("dz"))
    if max_degree is not None:
        zdeg = zdeg.filter(F.col("dz") <= F.lit(int(max_degree)))
    e1 = edges.select(F.col("b").alias("z"), F.col("a").alias("u")).join(
        zdeg, "z")
    e2 = edges.select(F.col("b").alias("z"), F.col("a").alias("v"))
    wedges = e1.join(e2, "z").filter(F.col("u") < F.col("v"))
    spark = pairs.sparkSession
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    mass = int(
        zdeg.agg(F.sum(F.col("dz") * F.col("dz"))).first()[0] or 0)
    npart = min(4096, mass // _WEDGE_ROWS_PER_PARTITION + 1)
    if npart > default_parts:
        wedges = wedges.repartition(npart, "u", "v")
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common"),
        F.sum(F.lit(1.0) / F.log(F.col("dz"))).alias("adamic_adar"),
    ).filter(F.col("common") >= min_common)
    scored = (
        scored.join(deg.select(F.col("a").alias("u"),
                               F.col("d").alias("du")), "u")
        .join(deg.select(F.col("a").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.col("u").alias("id_a"), F.col("v").alias("id_b"), "common",
            (F.col("common")
             / (F.col("du") + F.col("dv") - F.col("common"))).alias("jaccard"),
            "adamic_adar",
        )
    )
    if exclude_existing:
        existing = edges.filter(F.col("a") < F.col("b")).select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        scored = scored.join(existing, ["id_a", "id_b"], "left_anti")
    return scored


def shortest_paths(
    edges: DataFrame,
    sources: list,
    id_src: str = "id_a",
    id_dst: str = "id_b",
    weight_col: str | None = None,
    max_iter: int = 10,
) -> DataFrame:
    """Single/multi-source shortest path distances over a DIRECTED
    weighted edge list by synchronous relaxation (distributed
    Bellman-Ford): ``(node, dist)`` for every node reachable from any of
    ``sources`` within ``max_iter`` hops. ``weight_col`` defaults to 1.0
    per edge (hop counting); negative weights are rejected (negative-cycle
    semantics are undefined for a fixed-round relaxation).

    With ``max_iter >= |V| - 1`` the result is the exact shortest
    distance; smaller values give the documented "shortest path using at
    most k hops" semantics — deterministic either way, which is what lets
    a fixed-round SQL oracle replay it. Distances are pure double sums
    along each path (same association in any engine), so cross-engine
    comparison is exact.

    Scale shape: each round is one equi-join of the frontier with the
    out-edge list plus two min-aggregates, all hash-keyed on node id
    (AQE-safe, map-side combinable); per-round ``localCheckpoint``
    truncates lineage like the other iterative algorithms here. Cost per
    round is bounded by edges incident to IMPROVED nodes — the frontier
    optimization: only distances that changed last round can relax a
    neighbor, so the join input is the delta, not the full vector."""
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    spark = edges.sparkSession
    with Checkpointer(spark) as ck:
        e = edges.select(
            F.col(id_src).alias("src"), F.col(id_dst).alias("dst"),
            w.alias("w"),
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        if weight_col:
            # fail fast on a negative weight: silent wrong answers otherwise
            neg = e.filter(F.col("w") < 0).limit(1).count()
            if neg:
                raise ValueError("shortest_paths: negative edge weight found")
        e = ck(e, "edges")
        # Coerce seeds explicitly: numpy integers are not `int`, and bool
        # is — an isinstance(int) schema pick would route np.int64 seeds
        # into the string branch (createDataFrame failure) and booleans
        # into the long one. bool seeds are REJECTED (stringifying them to
        # 'True' would silently return empty results against numeric id
        # columns); other integral-likes -> long, everything else -> str;
        # mixed kinds are rejected with a diagnosis instead of a Spark
        # type error.
        import numbers

        if any(isinstance(s, bool) for s in sources):
            raise TypeError(
                "shortest_paths: bool source ids are not valid node ids; "
                "pass ids matching the edge id column's type")

        kinds = {isinstance(s, numbers.Integral) for s in sources}
        if len(kinds) > 1:
            raise TypeError(
                "shortest_paths: mixed integer and non-integer source ids "
                f"({sorted(set(type(s).__name__ for s in sources))}); pass "
                "one id type matching the edge id column")
        if kinds == {True}:
            dist = spark.createDataFrame(
                [(int(s), 0.0) for s in sources], "node: long, dist: double")
        else:
            dist = spark.createDataFrame(
                [(str(s), 0.0) for s in sources],
                "node: string, dist: double")
        frontier = dist
        for _ in range(max_iter):
            relaxed = (
                e.join(frontier.select(F.col("node").alias("src"), "dist"),
                       "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
            )
            new_dist = ck(
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist")),
                "dist")
            # frontier = nodes whose best distance improved this round;
            # when it drains, every later round is a no-op
            frontier = ck(
                new_dist.join(
                    dist.select("node", F.col("dist").alias("_old")),
                    "node", "left")
                .filter(
                    F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
                .select("node", "dist"),
                "frontier")
            dist = new_dist
            if frontier.limit(1).count() == 0:
                break
        return ck.finish(dist)


def k_core(
    pairs: DataFrame,
    k: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """The k-core of the undirected graph: iteratively peel nodes of
    degree < ``k`` until the survivor set is stable (Seidman 1983,
    public) — the classic dense-subgraph screen (spam link farms, tight
    co-occurrence clusters, community nuclei). Returns
    ``(node, core_deg)`` for every surviving node with its degree INSIDE
    the core.

    Round structure (frontier-delta peel): the edge list is checkpointed
    ONCE and never rewritten; the live state is the node-sized
    ``(node, degree-within-survivors)`` table. Per round, nodes with
    d < k are removed and only their NEIGHBORS' degrees change — one
    semi-join of the static edge list against the (usually tiny) removed
    frontier + one count aggregate computes the decrements, and the
    degree table is the only thing re-checkpointed. Synchronous-wave
    semantics are identical to the classic full re-aggregation peel
    (each edge decrements each surviving endpoint exactly once, in the
    round its other endpoint is removed), but per-round cost follows the
    FRONTIER size, not the survivor edge count — the r5 measurement had
    the full-rewrite version super-linear at 20x (e=1.09) precisely
    because six avalanche rounds each re-shuffled and re-persisted the
    whole surviving edge list. Peeling depth is data-dependent (a chain
    peels one node per round at k=2), so ``max_iter`` bounds the rounds;
    at exhaustion the final ``degree >= k`` filter still holds, making
    the fixed-round result deterministic — the property the unrolled SQL
    oracle replays."""
    with Checkpointer(pairs.sparkSession) as ck:
        edges = ck(_symmetrize(
            pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))),
            "edges")
        alive = ck(
            edges.groupBy("a").agg(F.count(F.lit(1)).alias("d")), "alive")
        for _ in range(max_iter):
            removed = alive.filter(F.col("d") < k).select("a")
            if removed.limit(1).count() == 0:
                break
            dec = (
                edges.join(
                    removed.withColumnRenamed("a", "b"), "b", "left_semi")
                .groupBy("a").agg(F.count(F.lit(1)).alias("dec"))
            )
            alive = ck(
                alive.filter(F.col("d") >= k)
                .join(dec, "a", "left")
                .select(
                    "a",
                    (F.col("d") - F.coalesce(F.col("dec"), F.lit(0)))
                    .alias("d"),
                ),
                "alive",
            )
        return ck.finish(
            alive.filter(F.col("d") >= k).select(
                F.col("a").alias("node"), F.col("d").alias("core_deg")))


def hits(
    pairs: DataFrame,
    id_src: str = "id_a",
    id_dst: str = "id_b",
    max_iter: int = 8,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, public) over a DIRECTED
    edge list: mutual recursion ``auth(v) = sum of hub(u) over in-edges``,
    ``hub(u) = sum of auth(v) over out-edges``, each L2-normalized per
    half-step. Returns ``(node, hub, authority)`` for every node in the
    edge set (sinks get hub 0, sources get authority 0). Fixed
    iterations — deterministic, replayable by an unrolled SQL oracle.

    Scale shape: two equi-joins + two aggregates per iteration, all hash
    partitioned on node id; the L2 norms stay IN-PLAN as broadcast 1-row
    aggregates (same trick as pagerank's dangling mass — no driver
    actions inside the loop beyond the per-round checkpoint)."""
    with Checkpointer(pairs.sparkSession) as ck:
        edges = ck(
            pairs.select(F.col(id_src).alias("src"), F.col(id_dst).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct(),
            "edges")
        nodes = ck(
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct(),
            "nodes")

        def _norm(df: DataFrame, col: str) -> DataFrame:
            nrm = df.agg(
                F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n"))
            return (
                df.crossJoin(F.broadcast(nrm))
                .select(
                    "node",
                    F.when(F.col("_n") > 0, F.col(col) / F.col("_n"))
                    .otherwise(F.lit(0.0)).alias(col),
                )
            )

        hub = nodes.withColumn("hub", F.lit(1.0))
        auth = nodes.withColumn("authority", F.lit(0.0))
        for _ in range(max_iter):
            auth = ck(_norm(
                nodes.join(
                    edges.join(
                        hub.select(F.col("node").alias("src"), "hub"), "src")
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum("hub").alias("authority")),
                    "node", "left")
                .select("node", F.coalesce("authority", F.lit(0.0)).alias(
                    "authority")),
                "authority",
            ), "auth")
            hub = ck(_norm(
                nodes.join(
                    edges.join(
                        auth.select(F.col("node").alias("dst"), "authority"),
                        "dst")
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.sum("authority").alias("hub")),
                    "node", "left")
                .select("node", F.coalesce("hub", F.lit(0.0)).alias("hub")),
                "hub",
            ), "hub")
        return ck.finish(
            hub.join(auth, "node").select("node", "hub", "authority"))
