"""Product quantization (PQ) for embedding search at corpus scale — the
canonical memory-compression path (Jégou et al., TPAMI 2011, public): a
d-dim float vector (e.g. 1536 floats = 6 KB) becomes ``m`` uint8 codes
(e.g. 16 bytes), a ~400x shrink that lets a 100 TB embedding corpus fit a
few hundred GB of codes, scanned with asymmetric distance computation
(ADC): per query, one lookup table of ``m x k_sub`` exact sub-dot-products;
each candidate's score is m table lookups, no float math per dimension.

Spark shape:
- **train**: codebooks fit on a driver-side SAMPLE (standard PQ practice —
  codebooks need ~100k vectors, not the corpus) with a deterministic
  seeded Lloyd's in numpy. Bounded by ``train_sample``.
- **encode**: one distributed pass; an Arrow-batched ``mapInPandas`` does
  the vectorized float64 argmin against the broadcast codebooks (numpy
  over the batch — the sanctioned Python escape hatch, never per-row).
- **search**: one float64 LUT builder (:func:`_luts`), one per-task
  running top-k (:func:`_adc_topk`) and one global window
  (:func:`_ranked`) — the REPOSE shape: a local top-k kernel per
  partition, then one global cut. Queries' LUTs travel in the task
  closure; each task accumulates a running top-k per query ACROSS its
  Arrow batches and emits once at iterator exhaustion, so the shuffle
  into the window is k rows per (query, task) — never the codes
  themselves, and never per-batch blocks. Local and global cuts share
  one tie-break (score desc, neighbor_id asc), so results are
  partitioning-invariant.

Exactness note: ADC scores approximate the true dot product, so the
quality contract against exact search is recall (tested). Between
themselves the three scoring paths — driver LUTs, the join formulation
and IVF-PQ at full probe — agree bit for bit: they build the same
float64 LUT entries and add the m parts in the same order. All three are
graded against a DuckDB replay of a frozen codebook
(``pq_adc_topk_embeddings``, part of ``embedding_search_suite``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graflo_spark.ops.util import ensure_min_parallelism, small_input


def _lloyd(x: "np.ndarray", k: int, iters: int, seed: int) -> "np.ndarray":
    """Deterministic seeded Lloyd's k-means (numpy); returns (k, dsub)
    centroids. Empty clusters re-seed from the farthest points."""
    rng = np.random.RandomState(seed)
    centers = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    if len(centers) < k:  # tiny sample: pad with jittered repeats
        pad = centers[rng.randint(0, len(centers), size=k - len(centers))]
        centers = np.vstack([centers, pad + rng.normal(0, 1e-4, pad.shape)])
    x2 = (x * x).sum(axis=1, keepdims=True)
    for _ in range(iters):
        # expanded form: (N,K) only — the (N,K,dsub) broadcast temp would
        # cost ~1 GB at the default 100k-vector training sample
        c2 = (centers * centers).sum(axis=1)
        d2 = x2 - 2.0 * x @ centers.T + c2[None, :]
        assign = d2.argmin(axis=1)
        # farthest points, distinct per empty cluster: reseeding every
        # empty cluster to the SAME point would leave duplicate centroids
        # that never separate (identical centers attract identical
        # assignments), wasting codewords
        far = np.argsort(-d2.min(axis=1), kind="stable")
        next_far = 0
        for j in range(k):
            mask = assign == j
            if mask.any():
                centers[j] = x[mask].mean(axis=0)
            else:
                centers[j] = x[far[next_far % len(far)]]
                next_far += 1
    return centers


def _topk_cut(scores: "np.ndarray", ids: "np.ndarray", k: int) -> "np.ndarray":
    """Indices of the top-k by (score desc, id asc) — the SAME tie-break
    the final global window uses, so a local cut can never discard a row
    the global ranking would have kept (quantized ADC scores tie often).

    Large inputs take an O(n) prune first (r15): everything with score >=
    the k-th largest score — a SUPERSET of the top-k under any tie-break
    — then the exact lexsort runs on that remainder only. Selection is
    identical to the full lexsort by construction."""
    n = len(scores)
    if n > 4 * k and k > 0:
        kth = np.partition(scores, n - k)[n - k]
        keep = np.nonzero(scores >= kth)[0]
        order = keep[np.lexsort((ids[keep], -scores[keep]))]
        return order[:k]
    order = np.lexsort((ids, -scores))
    return order[:k]


# per-task temp bound for the vectorized multi-query ADC gather: chunk the
# query axis so the (q_chunk, n) float64 score block stays under this
_ADC_CHUNK_BYTES = 64 << 20


def _adc_scores(luts: "np.ndarray", code_mat: "np.ndarray") -> "np.ndarray":
    """(q, n) ADC scores of q query LUTs against one batch's (n, m) code
    matrix. The m looked-up parts are added one subspace at a time,
    j = 0..m-1 — the order in which the join formulation's sum folds its
    posexploded rows. Written out because numpy's ``sum(axis=...)`` picks
    a sequential fold or pairwise blocks (m >= 8) from the memory layout
    of its input, and the two differ in the last bit."""
    scores = luts[:, 0, code_mat[:, 0]]
    for j in range(1, luts.shape[1]):
        scores += luts[:, j, code_mat[:, j]]
    return scores


@dataclass
class PqCodebook:
    """Per-subspace centroid tables: ``centroids[j]`` is (k_sub, dsub)."""

    centroids: list  # list[np.ndarray], length m
    dim: int

    @property
    def m(self) -> int:
        return len(self.centroids)

    @property
    def dsub(self) -> int:
        return self.centroids[0].shape[1]


def train_pq(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k_sub: int = 256,
    train_sample: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> PqCodebook:
    """Fit PQ codebooks on a bounded driver-side sample. ``m`` must divide
    the embedding dim; ``k_sub <= 256`` keeps codes one byte each."""
    if not 1 <= k_sub <= 256:
        raise ValueError("k_sub must be in [1, 256] for uint8 codes")
    vecs = corpus.select(
        F.col(vec_col).cast("array<float>").alias("v")
    ).filter(F.col(vec_col).isNotNull())
    n = vecs.count()
    if n == 0:
        raise ValueError("cannot train PQ on an empty corpus "
                         "(after NULL-vector filter)")
    frac = min(1.0, train_sample / n)
    rows = vecs.sample(fraction=frac, seed=seed).limit(train_sample).collect()
    if not rows:  # pathological sample draw on a tiny corpus
        rows = vecs.limit(train_sample).collect()
    x = np.asarray([r["v"] for r in rows], dtype=np.float32)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide embedding dim {dim}")
    dsub = dim // m
    cents = [
        _lloyd(
            np.ascontiguousarray(x[:, j * dsub : (j + 1) * dsub]),
            k_sub, iters, seed + j,
        )
        for j in range(m)
    ]
    return PqCodebook(centroids=cents, dim=dim)


_CODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("code", T.ArrayType(T.IntegerType())),
    ]
)


def _luts(x: "np.ndarray", book: PqCodebook) -> "np.ndarray":
    """The one ADC lookup-table builder: ``(n, m, k_sub)`` float64
    sub-dot-products of each row of ``x`` (n, dim) with every subspace's
    centroids. ``einsum`` (unoptimized, so no BLAS) and not ``@``: a
    gemm's per-row results depend on how many rows share the call, and
    the join formulation builds its LUTs per Arrow batch of queries while
    the driver builds them all at once — einsum's per-entry reduction over
    ``dsub`` does not."""
    x = np.asarray(x, dtype=np.float64).reshape(-1, book.dim)
    dsub = book.dsub
    return np.stack(
        [
            np.einsum("nd,kd->nk", x[:, j * dsub : (j + 1) * dsub],
                      np.asarray(c, dtype=np.float64))
            for j, c in enumerate(book.centroids)
        ],
        axis=1,
    )


def pq_encode(
    corpus: DataFrame,
    book: PqCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One distributed encode pass: ``(id, code ARRAY<INT> length m)``.
    Vectorized per Arrow batch; the codebooks ride the task closure
    (m * k_sub * dsub floats — a few MB at most). The argmin runs in
    float64, the precision the oracle's ``ORDER BY d2, c`` compares in."""
    dsub = book.dsub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(x), book.m), dtype=np.int32)
            for j, c in enumerate(book.centroids):
                c = np.asarray(c, dtype=np.float64)
                sub = x[:, j * dsub : (j + 1) * dsub]
                # ||s - c||^2 argmin via the expanded form (no NxKxD temp)
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * sub @ c.T
                    + (c * c).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "code": list(codes)})

    narrowed = corpus.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<float>").alias("v"),
    ).filter(F.col(vec_col).isNotNull())  # no code for a missing vector
    return narrowed.mapInPandas(run, schema=_CODE_SCHEMA)


def _queries(queries: DataFrame, query_id: str, query_vec: str) -> DataFrame:
    """``(qid, v)`` of every query with a vector: a NULL vector has no
    LUT, so it gets no neighbors."""
    return queries.select(
        F.col(query_id).cast("long").alias("qid"),
        F.col(query_vec).cast("array<float>").alias("v"),
    ).filter(F.col(query_vec).isNotNull())


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """The one global cut: ``(query_id, neighbor_id, score)`` ranked by
    (score desc, neighbor_id asc) per query, top ``k`` kept, ``rank``
    appended."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _adc_topk(
    cand: DataFrame,
    qids: "np.ndarray",
    luts: "np.ndarray",
    k: int,
    exclude_self: bool,
    probe: "np.ndarray | None" = None,
) -> DataFrame:
    """The one running ADC top-k, ranked by :func:`_ranked`. ``cand``
    carries ``(id, code)`` rows — plus ``cluster`` when ``probe`` is
    given, a (query, cluster) bool mask that restricts each query to the
    rows of its probed clusters. Each task keeps a running top-k per query
    across ALL its batches and emits once: emitting per batch would
    inflate the shuffle by the batch count. Scores are gathered for a
    chunk of queries at once: m vectorized gathers per chunk, not per
    query."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, tuple] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            code_mat = np.asarray(list(pdf["code"]), dtype=np.int64)
            if probe is not None:
                clusters = pdf["cluster"].to_numpy()
            chunk = max(1, _ADC_CHUNK_BYTES // (8 * len(ids)))
            for q0 in range(0, len(qids), chunk):
                sc = _adc_scores(luts[q0:q0 + chunk], code_mat)
                for qi in range(sc.shape[0]):
                    qid = int(qids[q0 + qi])
                    if probe is not None:
                        keep = probe[q0 + qi, clusters]
                    else:
                        keep = np.ones(len(ids), dtype=bool)
                    if exclude_self:
                        keep &= ids != qid
                    if not keep.any() and qid not in acc:
                        continue
                    s, i = sc[qi][keep], ids[keep]
                    if qid in acc:
                        s = np.concatenate([acc[qid][0], s])
                        i = np.concatenate([acc[qid][1], i])
                    top = _topk_cut(s, i, k)
                    acc[qid] = (s[top], i[top])
        for qid, (s, i) in acc.items():
            yield pd.DataFrame({"query_id": qid, "neighbor_id": i, "score": s})

    return _ranked(cand.mapInPandas(
        run, schema="query_id long, neighbor_id long, score double"), k)


def _pq_topk_join(
    q_n: DataFrame,
    codes: DataFrame,
    book: PqCodebook,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """Join-formulation ADC for query sets too large for driver LUTs:
    LUT entries as rows ``(qid, j, c, part)`` (built executor-side by one
    vectorized ``mapInPandas`` over the queries — only the tiny codebook
    rides the closure), codes posexploded to ``(id, j, c)``, one
    equi-join on ``(j, c)`` and a summed groupBy reconstruct the exact
    same ADC scores. Cost is the brute-force |corpus|*m*|queries| score
    matrix — the honest price of exact ADC over every query; IVF-PQ
    (:func:`ivf_pq_topk`) is the pruned scale path."""
    m, ksub = book.m, book.centroids[0].shape[0]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            qids = pdf["qid"].to_numpy()
            parts = _luts(list(pdf["v"]), book)
            n = len(qids)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids, m * ksub),
                    "j": np.tile(np.repeat(np.arange(m, dtype=np.int32), ksub), n),
                    "c": np.tile(np.arange(ksub, dtype=np.int32), n * m),
                    "part": parts.reshape(-1),
                }
            )

    lut_df = q_n.mapInPandas(
        build, schema="qid long, j int, c int, part double")
    codes_x = codes.select(
        "id", F.posexplode("code").alias("j", "c")
    ).withColumn("j", F.col("j").cast("int")).withColumn(
        "c", F.col("c").cast("int")
    )
    scored = (
        codes_x.join(lut_df, ["j", "c"])
        # partial (map-side) aggregation folds the m per-subspace rows, in
        # posexplode order j = 0..m-1, before the (qid, id) shuffle
        .groupBy("qid", "id")
        .agg(F.sum("part").alias("score"))
    )
    if exclude_self:
        scored = scored.filter(F.col("id") != F.col("qid"))
    return _ranked(
        scored.select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            "score",
        ),
        k,
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    book: PqCodebook,
    k: int = 10,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    exclude_self: bool = True,
    max_driver_queries: int = 4096,
) -> DataFrame:
    """ADC top-k over PQ codes: per partition, numpy gathers each query's
    LUT rows for every code and emits the local top-k; a window takes the
    global top-k. Returns ``(query_id, neighbor_id, score, rank)`` where
    score approximates the dot product (== cosine for L2-normalized
    vectors). Queries with a NULL vector are dropped.

    ``exclude_self``: when True (default), candidates whose id equals the
    query id are dropped — the right semantics for self-join dedup over
    one corpus. For EXTERNAL query sets whose id space is unrelated to
    the corpus, pass False, or a legitimate neighbor that merely shares
    the integer id is silently excluded.

    Query-set bound: up to ``max_driver_queries`` queries, per-query LUTs
    travel in the task closure (each LUT is m*k_sub float64 entries — the
    driver collect is bounded at ~max_driver_queries * m * k_sub * 8
    bytes, e.g. 4096*8*256*8 = 64 MB). Beyond that the function switches
    to a fully distributed join formulation: LUT entries become a
    (qid, j, c, part) DataFrame, codes posexplode to (id, j, c), and one
    equi-join on (j, c) + a partial-aggregated sum reconstructs the ADC
    score with no driver state at all — any query count. Both paths build
    the same float64 LUT entries (:func:`_luts`) and add the m parts in
    subspace order, so their scores agree exactly while the join's LUT
    side broadcasts (a shuffled join splits a score's parts across
    partitions and merges them in arrival order).
    """
    q_n = _queries(queries, query_id, query_vec)
    q_rows = small_input(q_n, max_driver_queries)
    if q_rows is None:
        return _pq_topk_join(q_n, codes, book, k, exclude_self)
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    luts = _luts([r["v"] for r in q_rows], book)
    return _adc_topk(codes, qids, luts, k, exclude_self)


def ivf_pq_topk(
    queries: DataFrame,
    ivf_index,
    codes: DataFrame,
    book: PqCodebook,
    k: int = 10,
    n_probe: int = 2,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """The classic IVF-PQ layout: IVF pruning picks the ``n_probe``
    clusters nearest each query (tiny broadcast centroid ranking), then
    ADC scores ONLY the PQ codes inside those clusters — the 100 TB scan
    reads ``n_probe/n_centroids`` of a corpus that is already ~400x
    smaller than the floats. ``ivf_index`` is a
    :class:`graflo_spark.ops.simsearch.IvfIndex` built over the SAME
    corpus the codes encode. At ``n_probe == n_centroids`` results equal
    :func:`pq_topk` exactly (pruning disabled, same ADC scores). Queries
    with a NULL vector are dropped, as in :func:`pq_topk`."""
    from graflo_spark.ops.simsearch import cosine_expr

    q_n = _queries(queries, query_id, query_vec)
    qc = q_n.crossJoin(F.broadcast(ivf_index.centroids)).select(
        "qid", "cluster",
        cosine_expr(
            F.col("v").cast("array<double>"), F.col("centroid")
        ).alias("c_cos"),
    )
    wq = Window.partitionBy("qid").orderBy(F.col("c_cos").desc(), "cluster")
    probes = (
        qc.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select("qid", "cluster")
    )
    # Probe sets travel in the TASK CLOSURE as a (query, cluster) mask, not
    # a join: joining probes onto the codes would replicate every probed
    # code row once per probing query (a |queries| x |codes| frame at full
    # probe). The queries are already bounded driver state — collected
    # for the LUTs — so the candidate frame is ONE equi-join attaching each
    # code row's cluster, pruned to the union of probed clusters, and each
    # task scores its rows against every query probing that row's cluster.
    q_rows = q_n.collect()
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    luts = _luts([r["v"] for r in q_rows], book)
    row_of = {int(q): i for i, q in enumerate(qids)}
    probe_rows = probes.collect()
    probed_clusters = sorted({int(r["cluster"]) for r in probe_rows})
    probe = np.zeros((len(qids), max(probed_clusters, default=0) + 1),
                     dtype=bool)
    for r in probe_rows:
        probe[row_of[int(r["qid"])], int(r["cluster"])] = True
    cand = (
        ivf_index.assigned.select(F.col("neighbor_id").alias("id"), "cluster")
        .filter(F.col("cluster").isin(probed_clusters))
        .join(codes, "id")
        .select("id", "cluster", "code")
    )
    # AQE coalesces the small join output to ONE partition, which would
    # serialize the Q x n x m scoring on one core; probe=False because
    # probing a join output executes it (no-op at scale / off local masters)
    cand = ensure_min_parallelism(cand, probe=False)
    return _adc_topk(cand, qids, luts, k, exclude_self, probe)
