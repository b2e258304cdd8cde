"""Connected components (alternating star contraction) vs a union-find
reference, including a long-chain graph that defeats diameter-bound
label propagation."""

import random

import pytest

from pyspark.sql import functions as F

from graflo_spark.ops.graphalgo import connected_components, near_dup_clusters


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _check(spark, pairs, max_iter=25):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    expected = _union_find(pairs)
    # r14: both the driver union-find fast path (default bound) and the
    # forced distributed star rounds must produce the identical mapping
    for dmax in (100_000, 0):
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                df, max_iter=max_iter,
                driver_collapse_max_edges=dmax).collect()
        }
        assert got == expected


def test_cc_random_graph(spark):
    rng = random.Random(7)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    pairs = [(a, b) for a, b in pairs if a != b]
    _check(spark, pairs)


def test_cc_regression_premature_convergence(spark):
    """Regression: the old 'every parent is a root' convergence check could
    stop with a multi-parent forest — this exact 16-edge graph is ONE
    component but came back as three ({0,3,4}), with nodes 6 and 7 emitted
    twice. The stable-edge-set criterion must return a single component and
    exactly one row per node."""
    pairs = [(7, 9), (7, 14), (2, 0), (15, 4), (11, 13), (12, 10), (14, 4),
             (0, 6), (13, 6), (2, 8), (3, 9), (14, 12), (6, 12)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    rows = connected_components(df, driver_collapse_max_edges=0).collect()
    nodes = [r["node"] for r in rows]
    assert len(nodes) == len(set(nodes)), "duplicate node rows"
    assert {r["component"] for r in rows} == {0}
    assert {r["node"]: r["component"] for r in rows} == _union_find(pairs)


def test_cc_stress_many_random_sparse_graphs(spark):
    """The advisor's failure mode hit ~1% of random sparse graphs; a batch
    of seeded sparse graphs (checked in one Spark job via a graph_id column)
    pins the fix. Union-find is the oracle."""
    rng = random.Random(20260813)
    graphs = []
    for g in range(40):
        n = rng.randrange(8, 24)
        m = rng.randrange(n // 2, n + 6)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        graphs.append([(a, b) for a, b in pairs if a != b])
    # one CC run per graph would be slow; offset node ids so all graphs
    # coexist disjointly in a single run, then check per-graph
    offset_pairs, expected = [], {}
    for g, pairs in enumerate(graphs):
        off = g * 1000
        offset_pairs += [(a + off, b + off) for a, b in pairs]
        expected.update(
            {k + off: v + off for k, v in _union_find(pairs).items()})
    if not offset_pairs:
        return
    df = spark.createDataFrame(offset_pairs, "id_a long, id_b long")
    for dmax in (100_000, 0):
        rows = connected_components(
            df, driver_collapse_max_edges=dmax).collect()
        nodes = [r["node"] for r in rows]
        assert len(nodes) == len(set(nodes)), "duplicate node rows"
        assert {r["node"]: r["component"] for r in rows} == expected


def test_cc_long_chain_converges_in_log_rounds(spark):
    """A 200-node chain has diameter 199: min-label propagation would need
    ~200 rounds; star contraction must finish far under max_iter=12."""
    pairs = [(i, i + 1) for i in range(200)]
    _check(spark, pairs, max_iter=12)


def test_cc_multiple_components_and_roots(spark):
    pairs = [(5, 3), (3, 9), (20, 21), (40, 40)]  # self-loop ignored
    for dmax in (100_000, 0):
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                spark.createDataFrame(pairs, "id_a long, id_b long"),
                driver_collapse_max_edges=dmax).collect()
        }
        assert got[5] == 3 and got[9] == 3 and got[3] == 3
        assert got[20] == 20 and got[21] == 20
        assert 40 not in got  # self-loop only -> no edge -> outer join


def test_near_dup_clusters_representatives(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 3)], "id_a long, id_b long")
    out = near_dup_clusters(docs, pairs).collect()
    cluster = {r["doc_id"]: r["cluster"] for r in out}
    reps = {r["doc_id"] for r in out if r["is_representative"]}
    assert cluster == {0: 0, 1: 1, 4: 1, 6: 1, 2: 2, 3: 2, 5: 5, 7: 7}
    assert reps == {0, 1, 2, 5, 7}

def test_cc_raises_on_max_iter_exhaustion(spark):
    """An unconverged forest can assign one node two components; exhausting
    max_iter must raise, never return silently."""
    import pytest

    pairs = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, driver_collapse_max_edges=0)


def test_triangle_count_known_graphs(spark):
    from graflo_spark.ops.graphalgo import triangle_count

    def tc(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return triangle_count(df).first()["n_triangles"]

    # K4: C(4,3) = 4 triangles; edge direction/duplication must not matter
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert tc(k4) == 4
    # chain: none
    assert tc([(0, 1), (1, 2), (2, 3)]) == 0
    # one triangle plus a pendant
    assert tc([(0, 1), (1, 2), (2, 0), (2, 3)]) == 1
    # star: none (bipartite-ish), however large the hub degree
    assert tc([(0, i) for i in range(1, 30)]) == 0


def test_triangle_count_per_node(spark):
    from graflo_spark.ops.graphalgo import triangle_count

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["n_triangles"]
           for r in triangle_count(df, per_node=True).collect()}
    # triangles {0,1,2} and {2,3,4}; node 2 is in both
    assert got == {0: 1, 1: 1, 2: 2, 3: 1, 4: 1}


def test_triangle_count_matches_duckdb_on_random_graph(spark):
    """Cross-engine proof: the oriented 3-join == DuckDB's canonical
    a<b<c self-join count on a pseudo-random graph."""
    import duckdb

    rows = []
    x = 1234567
    for _ in range(400):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = (x >> 16) % 40
        x = (1103515245 * x + 12345) % (1 << 31)
        b = (x >> 16) % 40
        rows.append((a, b))
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    from graflo_spark.ops.graphalgo import triangle_count

    got = triangle_count(df).first()["n_triangles"]
    con = duckdb.connect()
    con.execute("CREATE TABLE p (id_a BIGINT, id_b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", rows)
    want = con.execute(
        "WITH e AS (SELECT DISTINCT least(id_a, id_b) AS a, "
        "greatest(id_a, id_b) AS b FROM p WHERE id_a <> id_b) "
        "SELECT count(*) FROM e e1 "
        "JOIN e e2 ON e2.a = e1.b "
        "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
    ).fetchone()[0]
    assert got == want and want > 0


def test_pagerank_matches_numpy_power_iteration(spark):
    """Cross-engine proof: distributed PageRank == a dense NumPy power
    iteration with identical damping/dangling handling, on a pseudo-random
    directed graph with dangling nodes."""
    import numpy as np

    from graflo_spark.ops.graphalgo import pagerank

    rows, x = [], 987654321
    for _ in range(120):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = (x >> 16) % 25
        x = (1103515245 * x + 12345) % (1 << 31)
        b = (x >> 16) % 25
        if a != b:
            rows.append((a, b))
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    # r14: both the driver fast path (default bound) and the forced
    # distributed loop must match the reference
    per_path = []
    for dmax in (100_000, 0):
        per_path.append({
            r["node"]: r["rank"]
            for r in pagerank(df, max_iter=40, tol=None,
                              driver_collapse_max_edges=dmax).collect()})
    got = per_path[0]

    nodes = sorted({a for a, _ in rows} | {b for _, b in rows})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for a, b in set(rows):
        out.setdefault(a, set()).add(b)
    r = np.ones(n)
    d = 0.85
    for _ in range(40):
        nxt = np.zeros(n)
        dangling = sum(r[idx[v]] for v in nodes if v not in out)
        for a, dsts in out.items():
            share = r[idx[a]] / len(dsts)
            for b in dsts:
                nxt[idx[b]] += share
        r = (1 - d) + d * dangling / n + d * nxt
    for path_ranks in per_path:
        for v in nodes:
            assert path_ranks[v] == pytest.approx(r[idx[v]], rel=1e-9)
        # classic normalization: ranks sum to n (mass conserved incl.
        # dangling)
        assert sum(path_ranks.values()) == pytest.approx(n, rel=1e-9)


def test_checkpoint_interval_invariance(spark):
    """checkpoint_interval is a pure execution knob (r14): pagerank and
    LPA results are identical at interval 1 vs 3 — on a no-dangling
    graph (the batched fast path) AND on a graph with dangling nodes
    (forced interval-1 path with the per-round mass aggregate)."""
    from graflo_spark.ops.graphalgo import label_propagation, pagerank

    no_dangle = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0)], "id_a long, id_b long")
    dangle = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 3)], "id_a long, id_b long")  # 2, 3 dangle
    # driver_collapse_max_edges=0: the interval is a DISTRIBUTED-loop
    # knob; the driver fast path would otherwise absorb both sides
    for df in (no_dangle, dangle):
        base = sorted(
            pagerank(df, max_iter=6, tol=None, checkpoint_interval=1,
                     driver_collapse_max_edges=0).collect())
        alt = sorted(
            pagerank(df, max_iter=6, tol=None, checkpoint_interval=3,
                     driver_collapse_max_edges=0).collect())
        assert base == alt
    l1 = sorted(label_propagation(
        no_dangle, max_iter=4, checkpoint_interval=1,
        driver_collapse_max_edges=0).collect())
    l3 = sorted(label_propagation(
        no_dangle, max_iter=4, checkpoint_interval=3,
        driver_collapse_max_edges=0).collect())
    assert l1 == l3


def test_pagerank_driver_path_matches_distributed(spark):
    """r14 driver fast path: on graphs with dangling nodes, classic AND
    personalized, the driver power iteration agrees with the forced
    distributed loop to float-reassociation noise (both sum the same
    float64 terms in different orders), and covers the same node set."""
    from graflo_spark.ops.graphalgo import pagerank

    rng = random.Random(20250817)
    for trial in range(3):
        rows = list({
            (rng.randrange(40), rng.randrange(40)) for _ in range(90)})
        rows = [(a, b) for a, b in rows if a != b]
        df = spark.createDataFrame(rows, "id_a long, id_b long")
        for seeds in (None, [rows[0][0], rows[1][1]]):
            fast = {r["node"]: r["rank"]
                    for r in pagerank(df, max_iter=7, tol=None,
                                      personalized=seeds).collect()}
            dist = {r["node"]: r["rank"]
                    for r in pagerank(
                        df, max_iter=7, tol=None, personalized=seeds,
                        driver_collapse_max_edges=0).collect()}
            assert set(fast) == set(dist)
            for v in fast:
                assert fast[v] == pytest.approx(dist[v], abs=1e-9), (
                    trial, seeds, v)


def test_lpa_driver_path_matches_distributed(spark):
    """r14 driver fast path: LPA is integer label arithmetic, so the
    driver loop must match the forced distributed loop EXACTLY, across
    random graphs and iteration counts."""
    from graflo_spark.ops.graphalgo import label_propagation

    rng = random.Random(814)
    for trial in range(3):
        rows = list({
            (rng.randrange(30), rng.randrange(30)) for _ in range(60)})
        rows = [(a, b) for a, b in rows if a != b]
        df = spark.createDataFrame(rows, "id_a long, id_b long")
        for iters in (1, 4):
            fast = sorted(
                (r["node"], r["label"])
                for r in label_propagation(df, max_iter=iters).collect())
            dist = sorted(
                (r["node"], r["label"])
                for r in label_propagation(
                    df, max_iter=iters,
                    driver_collapse_max_edges=0).collect())
            assert fast == dist, (trial, iters)


def test_pagerank_early_stop_and_shapes(spark):
    from graflo_spark.ops.graphalgo import pagerank

    # simple cycle: symmetric structure -> every rank exactly 1.0
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "id_a long, id_b long")
    got = {r["node"]: r["rank"] for r in pagerank(df, tol=1e-9).collect()}
    assert got == {0: pytest.approx(1.0), 1: pytest.approx(1.0),
                   2: pytest.approx(1.0)}
    # empty input: empty output, no crash
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank(empty).count() == 0


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: deterministic sync LPA
    with min-label ties resolves each clique to its min node id, and the
    output is reproducible run-to-run."""
    from graflo_spark.ops.graphalgo import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "id_a long, id_b long")
    got = {r["node"]: r["label"]
           for r in label_propagation(edges, max_iter=5).collect()}
    assert all(got[n] == 0 for n in range(4))
    assert all(got[n] == 10 for n in range(10, 14))
    again = {r["node"]: r["label"]
             for r in label_propagation(edges, max_iter=5).collect()}
    assert got == again


def test_label_propagation_matches_numpy_sync(spark):
    """Cross-check: distributed sync LPA == a dense NumPy simulation of
    the same update rule on a pseudo-random graph."""
    import numpy as np

    from graflo_spark.ops.graphalgo import label_propagation

    rows, x = [], 424242
    for _ in range(200):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = (x >> 16) % 30
        x = (1103515245 * x + 12345) % (1 << 31)
        b = (x >> 16) % 30
        if a != b:
            rows.append((a, b))
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {r["node"]: r["label"]
           for r in label_propagation(df, max_iter=4).collect()}

    adj = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(4):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = {}
            for z in nbrs:
                cnt[labels[z]] = cnt.get(labels[z], 0) + 1
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        labels = nxt
    assert got == labels


def test_link_prediction_scores_known_graph(spark):
    """Path graph 0-1-2 plus 0-3, 2-3: check the three measures by hand
    and that existing edges are excluded."""
    import math

    from graflo_spark.ops.graphalgo import link_prediction_scores

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 3), (2, 3)], "id_a long, id_b long")
    # degrees: 0:2, 1:2, 2:2, 3:2. Non-adjacent pairs: (0,2) via {1,3},
    # (1,3) via {0,2}.
    got = {(r["id_a"], r["id_b"]): (r["common"], r["jaccard"],
                                    r["adamic_adar"])
           for r in link_prediction_scores(edges).collect()}
    assert set(got) == {(0, 2), (1, 3)}
    c, j, aa = got[(0, 2)]
    assert c == 2
    assert j == 2 / (2 + 2 - 2)
    assert abs(aa - 2 / math.log(2)) < 1e-9
    # include existing: adjacent pairs with shared neighbors now appear
    # (e.g. 0-1 share nothing here, but 0-3 share node... 0:{1,3}, 3:{0,2}
    # -> no shared; use a triangle to check: add edge 1-3)
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "id_a long, id_b long")
    with_existing = {(r["id_a"], r["id_b"])
                     for r in link_prediction_scores(
                         tri, exclude_existing=False).collect()}
    assert (0, 1) in with_existing  # adjacent, share neighbor 2
    assert link_prediction_scores(tri).count() == 0  # all pairs adjacent


def test_shortest_paths_weighted_known_graph(spark):
    """Weighted SSSP on a hand graph: the relaxation must find the
    cheaper 2-hop route over the expensive direct edge, drain the
    frontier early, and reject negative weights."""
    from graflo_spark.ops.graphalgo import shortest_paths

    edges = spark.createDataFrame(
        [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 2.0), (1, 3, 1.0), (4, 0, 1.0)],
        "id_a long, id_b long, w double")
    got = {r["node"]: r["dist"]
           for r in shortest_paths(edges, [0], weight_col="w",
                                   max_iter=10).collect()}
    assert got == {0: 0.0, 2: 1.0, 1: 3.0, 3: 4.0}  # 4 unreachable

    # multi-source: min over sources; hop-count mode without weights
    hops = {r["node"]: r["dist"]
            for r in shortest_paths(edges, [0, 4], max_iter=10).collect()}
    assert hops[4] == 0.0 and hops[0] == 0.0 and hops[1] == 1.0
    assert hops[3] == 2.0

    import pytest as _pytest
    bad = spark.createDataFrame([(0, 1, -1.0)], "id_a long, id_b long, w double")
    with _pytest.raises(ValueError, match="negative"):
        shortest_paths(bad, [0], weight_col="w")


def test_shortest_paths_bounded_hops_semantics(spark):
    """max_iter = k gives 'shortest using <= k hops' — deterministic and
    exactly what the unrolled SQL oracle replays."""
    from graflo_spark.ops.graphalgo import shortest_paths

    chain = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(6)], "id_a long, id_b long, w double")
    d2 = {r["node"]: r["dist"]
          for r in shortest_paths(chain, [0], weight_col="w",
                                  max_iter=2).collect()}
    assert d2 == {0: 0.0, 1: 1.0, 2: 2.0}  # nodes past 2 hops absent


def test_personalized_pagerank_proximity_and_mass(spark):
    """PPR on a barbell-ish graph: mass conserved at n, seed-side nodes
    outrank the far side, and classic mode is unchanged by the refactor."""
    from graflo_spark.ops.graphalgo import pagerank

    # two triangles {0,1,2} and {10,11,12} joined by a bridge 2-10
    tri = lambda a, b, c: [(a, b), (b, c), (c, a), (b, a), (c, b), (a, c)]
    edges = spark.createDataFrame(
        tri(0, 1, 2) + tri(10, 11, 12) + [(2, 10), (10, 2)],
        "id_a long, id_b long")
    ppr = {r["node"]: r["rank"]
           for r in pagerank(edges, max_iter=30, tol=None,
                             personalized=[0]).collect()}
    assert abs(sum(ppr.values()) - 6) < 1e-6      # mass conserved at n
    assert ppr[0] > ppr[2] > ppr[10] > ppr[12]    # proximity ordering
    classic = {r["node"]: r["rank"]
               for r in pagerank(edges, max_iter=30, tol=None).collect()}
    assert abs(sum(classic.values()) - 6) < 1e-6
    # classic stays symmetric between the two triangles
    assert abs(classic[0] - classic[11]) < 1e-9


def test_k_core_known_graph(spark):
    """K4 plus a pendant chain: the 3-core is exactly the K4 (each at
    core degree 3); the 2-core keeps a triangle hanging off it; a chain
    peels completely at k=2."""
    from graflo_spark.ops.graphalgo import k_core

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    # triangle {3,4,5} shares node 3 with the K4; pendant path 5-6-7
    extra = [(3, 4), (4, 5), (3, 5), (5, 6), (6, 7)]
    edges = spark.createDataFrame(k4 + extra, "id_a long, id_b long")
    core3 = {r["node"]: r["core_deg"]
             for r in k_core(edges, 3).collect()}
    assert core3 == {0: 3, 1: 3, 2: 3, 3: 3}
    core2 = {r["node"]: r["core_deg"]
             for r in k_core(edges, 2).collect()}
    assert set(core2) == {0, 1, 2, 3, 4, 5}   # chain 6-7 peeled
    assert core2[4] == 2 and core2[5] == 2
    # pure chain at k=2 peels to nothing (deep peeling exercises rounds)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long")
    assert k_core(chain, 2).count() == 0


def test_hits_matches_numpy(spark):
    """Distributed HITS == a dense NumPy power iteration with identical
    per-half-step L2 normalization, on a pseudo-random directed graph."""
    import numpy as np

    from graflo_spark.ops.graphalgo import hits

    rows, x = [], 13579
    for _ in range(150):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = (x >> 16) % 20
        x = (1103515245 * x + 12345) % (1 << 31)
        b = (x >> 16) % 20
        if a != b:
            rows.append((a, b))
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(df, max_iter=8).collect()}

    edges = sorted(set(rows))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    adj = np.zeros((len(nodes), len(nodes)))
    for a, b in edges:
        adj[idx[a], idx[b]] = 1.0
    h = np.ones(len(nodes))
    for _ in range(8):
        au = adj.T @ h
        au = au / (np.linalg.norm(au) or 1.0)
        h = adj @ au
        h = h / (np.linalg.norm(h) or 1.0)
    for v in nodes:
        assert got[v][0] == pytest.approx(h[idx[v]], abs=1e-9)
        assert got[v][1] == pytest.approx(au[idx[v]], abs=1e-9)
    # pure sink has hub 0; pure source has authority 0
    star = spark.createDataFrame([(1, 9), (2, 9)], "id_a long, id_b long")
    s = {r["node"]: (r["hub"], r["authority"])
         for r in hits(star, max_iter=4).collect()}
    assert s[9][0] == 0.0 and s[1][1] == 0.0


def test_k_core_matches_naive_peel_random_graph(spark):
    """Distributed k-core == a driver-side naive peel on a pseudo-random
    graph, across several k."""
    from graflo_spark.ops.graphalgo import k_core

    rows, x = [], 2468
    for _ in range(300):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = (x >> 16) % 40
        x = (1103515245 * x + 12345) % (1 << 31)
        b = (x >> 16) % 40
        if a != b:
            rows.append((a, b))
    df = spark.createDataFrame(rows, "id_a long, id_b long")

    def naive(k):
        adj = {}
        for a, b in set(map(lambda p: (min(p), max(p)), rows)):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in list(adj):
                if len(adj[n]) < k:
                    for m in adj[n]:
                        adj[m].discard(n)
                    del adj[n]
                    changed = True
        return {n: len(ns) for n, ns in adj.items() if ns}

    for k in (3, 6, 9):
        got = {r["node"]: r["core_deg"] for r in k_core(df, k).collect()}
        assert got == naive(k), f"k={k}"


def test_shortest_paths_matches_numpy_bellman_ford(spark):
    """Distributed weighted SSSP == dense Bellman-Ford on a random graph
    with deterministic rational weights."""
    from graflo_spark.ops.graphalgo import shortest_paths

    rows, x = [], 7531
    for _ in range(200):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = (x >> 16) % 25
        x = (1103515245 * x + 12345) % (1 << 31)
        b = (x >> 16) % 25
        if a != b:
            rows.append((a, b, 1.0 + ((a * 7 + b * 3) % 10) / 4.0))
    df = spark.createDataFrame(rows, "id_a long, id_b long, w double")
    got = {r["node"]: r["dist"]
           for r in shortest_paths(df, [0], weight_col="w",
                                   max_iter=30).collect()}

    inf = float("inf")
    best = {(a, b): w for a, b, w in rows}
    dist = {0: 0.0}
    for _ in range(26):
        for (a, b), w in best.items():
            if dist.get(a, inf) + w < dist.get(b, inf):
                dist[b] = dist[a] + w
    assert set(got) == set(dist)
    for n, d in dist.items():
        assert got[n] == pytest.approx(d, abs=1e-9)


def test_shortest_paths_seed_coercion(spark):
    """numpy integer seeds must land in the long-schema branch (not fail
    createDataFrame via the string branch); bool seeds and mixed-type seed
    lists are rejected with a diagnosis."""
    import numpy as np
    import pytest

    from graflo_spark.ops.graphalgo import shortest_paths

    edges = spark.createDataFrame(
        [(0, 1), (1, 2)], "id_a long, id_b long")
    got = {r["node"]: r["dist"]
           for r in shortest_paths(
               edges, [np.int64(0)], max_iter=5).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0}
    with pytest.raises(TypeError, match="mixed"):
        shortest_paths(edges, [0, "a"], max_iter=2)
    # bool is an int subclass but never a node id: stringifying it would
    # silently return an empty result against numeric id columns
    with pytest.raises(TypeError, match="bool"):
        shortest_paths(edges, [True], max_iter=2)


def test_link_prediction_max_degree_cap(spark):
    """The deg^2 hub guard: with max_degree set, super-hub wedge CENTERS
    are excluded before the join — pairs whose only shared neighbor is the
    hub disappear, everything else keeps exact scores (Jaccard denominators
    keep TRUE degrees), and a cap above the max degree is a no-op."""
    from graflo_spark.ops.graphalgo import link_prediction_scores

    # hub 100 connected to 0..9; besides that, 0-1-2 is a path through
    # shared neighbor 1
    hub_edges = [(100, i) for i in range(10)]
    path_edges = [(0, 1), (1, 2)]
    edges = spark.createDataFrame(hub_edges + path_edges,
                                  "id_a long, id_b long")

    uncapped = {(r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
                for r in link_prediction_scores(edges, min_common=1).collect()}
    # (0, 2) shares BOTH the hub and node 1 -> common=2 uncapped
    assert uncapped[(0, 2)][0] == 2
    # (3, 4) shares only the hub
    assert uncapped[(3, 4)][0] == 1

    capped = {(r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
              for r in link_prediction_scores(
                  edges, min_common=1, max_degree=5).collect()}
    assert (3, 4) not in capped          # hub-only pair gone
    common, jac = capped[(0, 2)]
    assert common == 1                   # hub neighbor no longer counted
    # Jaccard denominator keeps TRUE degrees: deg(0)=2 (hub+1), deg(2)=2
    assert abs(jac - 1 / (2 + 2 - 1)) < 1e-12

    nocap = {(r["id_a"], r["id_b"]): r["common"]
             for r in link_prediction_scores(
                 edges, min_common=1, max_degree=1000).collect()}
    assert nocap == {k: v[0] for k, v in uncapped.items()}  # no-op cap


# ---------------------------------------------------------------- tracker


def _persistent_rdd_count(spark):
    jsc = spark.sparkContext._jsc
    return len(jsc.getPersistentRDDs().keySet().toArray())


def test_round_checkpointer_bounds_blocks(spark):
    """The tracker's whole reason to exist: an iterative algorithm must
    not pin one checkpoint block set per round for the session. Mid-run
    each slot holds at most `keep` generations; after finish() only the
    result's own block survives the call."""
    from graflo_spark.ops.util import Checkpointer

    spark.catalog.clearCache()
    base = _persistent_rdd_count(spark)
    df = spark.range(100).withColumnRenamed("id", "x")
    ck = Checkpointer(spark)
    cur = df
    for i in range(6):
        cur = ck(cur.withColumn("x", F.col("x") + 1), "loop")
        # keep=2: never more than 2 generations of this slot alive
        assert _persistent_rdd_count(spark) - base <= 2
    out = ck.finish(cur)
    assert _persistent_rdd_count(spark) - base == 1
    assert out.count() == 100  # result readable after reclamation


def test_round_checkpointer_abort_frees_everything(spark):
    from graflo_spark.ops.util import Checkpointer

    spark.catalog.clearCache()
    base = _persistent_rdd_count(spark)
    df = spark.range(50)
    with pytest.raises(RuntimeError, match="boom"):
        with Checkpointer(spark) as ck:
            ck(df.withColumn("y", F.col("id") * 2), "a")
            ck(df.withColumn("z", F.col("id") * 3), "b")
            raise RuntimeError("boom")
    assert _persistent_rdd_count(spark) - base == 0


def test_round_checkpointer_keep_none_holds_all_until_finish(spark):
    from graflo_spark.ops.util import Checkpointer

    spark.catalog.clearCache()
    base = _persistent_rdd_count(spark)
    with Checkpointer(spark, keep=None) as ck:
        frames = [ck(spark.range(10 + i), f"s{i}") for i in range(4)]
        assert _persistent_rdd_count(spark) - base == 4
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.unionByName(f)
        out = ck.finish(merged)
    assert _persistent_rdd_count(spark) - base == 1
    assert out.count() == 10 + 11 + 12 + 13


def test_iterative_algorithms_do_not_accumulate_blocks(spark):
    """End-to-end: run every tracked iterative algorithm back-to-back and
    assert the session's persistent-RDD map stays bounded — the one-session
    GCLocker wedge from SCALE.md cannot happen if this holds."""
    import graflo_spark.ops.graphalgo as ga

    spark.catalog.clearCache()
    base = _persistent_rdd_count(spark)
    random.seed(7)
    pairs = [(random.randrange(60), random.randrange(60)) for _ in range(150)]
    df = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "id_a long, id_b long")
    ga.connected_components(df)
    ga.pagerank(df, max_iter=3, tol=None)
    ga.label_propagation(df, max_iter=2)
    ga.shortest_paths(df, sources=[0, 1], max_iter=3)
    ga.k_core(df, k=3)
    ga.hits(df, max_iter=2)
    # one self-contained result block per algorithm call at most
    assert _persistent_rdd_count(spark) - base <= 6


def test_star_round_oriented_inputs_match_symmetrized(spark):
    # r14 optimization: the CC loop feeds large_star a dedup-free
    # fwd-union-rev of the (oriented) previous round and feeds small_star
    # the large_star output DIRECTLY. Pin the invariants that make both
    # equivalent to the former symmetrize-everywhere shape, on a batch of
    # random graphs: (1) star outputs are strictly oriented a > b and
    # distinct; (2) each half-round's edge set is identical either way.
    from graflo_spark.ops.graphalgo import (
        _both_dirs_of_oriented, _large_star, _small_star, _symmetrize)

    rng = random.Random(99)
    for trial in range(4):
        pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "a long, b long")
        # checkpoint between rounds: an uncheckpointed multi-round star
        # lineage grows 3^rounds (the exact hazard the production loop's
        # per-round checkpoint exists to prevent)
        edges = _symmetrize(df).localCheckpoint(eager=True)
        for rnd in range(3):  # three rounds deep
            ls_new = _large_star(
                edges if rnd == 0 else _both_dirs_of_oriented(edges)
            ).localCheckpoint(eager=True)
            ls_old = _large_star(_symmetrize(edges)).localCheckpoint(
                eager=True)
            assert ls_new.exceptAll(ls_old).count() == 0
            assert ls_old.exceptAll(ls_new).count() == 0
            rows = ls_new.collect()
            assert all(r["a"] > r["b"] for r in rows)
            assert len(rows) == len({(r["a"], r["b"]) for r in rows})
            ss_new = _small_star(ls_new).localCheckpoint(eager=True)
            ss_old = _small_star(_symmetrize(ls_old)).localCheckpoint(
                eager=True)
            assert ss_new.exceptAll(ss_old).count() == 0
            assert ss_old.exceptAll(ss_new).count() == 0
            rows = ss_new.collect()
            assert all(r["a"] > r["b"] for r in rows)
            assert len(rows) == len({(r["a"], r["b"]) for r in rows})
            edges = ss_new
