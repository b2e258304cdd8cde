"""Product quantization: encode determinism, compression contract, ADC
recall against exact cosine top-k on the shipped embeddings table."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graflo_spark.ops.pq import ivf_pq_topk, pq_encode, pq_topk, train_pq
from graflo_spark.ops.simsearch import brute_force_topk, build_ivf_index


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # ADC approximates the DOT product; normalize so dot == cosine and the
    # exact-cosine baseline is the right recall reference
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0),
                              lambda a, x: a + x * x))
    return df.select(
        "vec_id",
        F.transform("embedding", lambda x: x / norm).alias("embedding"),
    )


def test_pq_encode_shape_and_determinism(spark, emb):
    book = train_pq(emb, m=8, k_sub=16, iters=5)
    dim = len(emb.select("embedding").first()["embedding"])
    assert book.m == 8 and book.dsub == dim // 8
    codes = pq_encode(emb, book)
    rows = {r["id"]: tuple(r["code"]) for r in codes.collect()}
    assert len(rows) == emb.count()
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in rows.values())
    # deterministic: re-train + re-encode reproduces every code
    rows2 = {r["id"]: tuple(r["code"])
             for r in pq_encode(emb, train_pq(emb, m=8, k_sub=16,
                                              iters=5)).collect()}
    assert rows2 == rows


def _recall(spark, emb, got, exact):
    g, e = {}, {}
    for r in got.collect():
        g.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(g) == set(e)
    return float(np.mean([len(g[q] & e[q]) / len(e[q]) for q in e]))


def test_pq_topk_recall_vs_exact(spark, emb):
    """The shipped embeddings are near-isotropic noise (neighbor cosines
    barely separate), the hardest case for PQ — so the contract tested is
    the quantization-refinement law: recall@10 against exact cosine rises
    toward 1 as codes get finer, and a near-lossless codebook (dsub=2,
    256 centroids per 2-dim subspace over a 500-vector corpus)
    recovers the exact ranking almost perfectly."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(queries, emb, k=10)

    coarse_book = train_pq(emb, m=4, k_sub=8, iters=10)
    coarse = pq_topk(queries, pq_encode(emb, coarse_book), coarse_book, k=10)
    fine_book = train_pq(emb, m=32, k_sub=256, iters=10)
    fine = pq_topk(queries, pq_encode(emb, fine_book), fine_book, k=10)

    r_coarse = _recall(spark, emb, coarse, exact)
    r_fine = _recall(spark, emb, fine, exact)
    assert r_fine > r_coarse, (r_coarse, r_fine)
    assert r_fine >= 0.9, r_fine
    # ranks are dense 1..10 per query
    for r in fine.collect():
        assert 1 <= r["rank"] <= 10


def _ranking(df):
    """{(query_id, rank): (neighbor_id, unrounded score)}"""
    return {(r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
            for r in df.collect()}


@pytest.fixture(scope="module")
def m4(emb):
    """One m=4 codebook (dsub=16, the oracle codebook's shape), its codes
    and a 4-cell IVF index, shared by the path-agreement tests."""
    book = train_pq(emb, m=4, k_sub=8, iters=5)
    return book, pq_encode(emb, book), build_ivf_index(
        emb, n_centroids=4, max_iter=3)


def test_pq_paths_agree_bit_for_bit(spark, emb, m4):
    """Driver LUTs, the join formulation and IVF-PQ at full probe build
    the same float64 LUT entries and add the m parts in the same order,
    so their UNROUNDED scores are equal: an oracle graded at
    ROUND(score, 4) can never see them land on two sides of a half
    boundary."""
    book, codes, index = m4
    queries = emb.filter(F.col("vec_id") % 7 == 0)
    lut = _ranking(pq_topk(queries, codes, book))
    assert len(lut) == 72 * 10
    assert _ranking(pq_topk(queries, codes, book,
                            max_driver_queries=0)) == lut
    assert _ranking(ivf_pq_topk(queries, index, codes, book,
                                n_probe=4)) == lut


def test_null_query_vector_is_dropped(spark, emb, m4):
    """A query with a NULL vector has no LUT: every path drops it and
    ranks the others as if it were absent."""
    book, codes, index = m4
    queries = emb.filter(F.col("vec_id") < 3).withColumn(
        "embedding",
        F.when(F.col("vec_id") != 1, F.col("embedding")),
    )
    plain = _ranking(pq_topk(queries, codes, book))
    assert {q for q, _ in plain} == {0, 2} and len(plain) == 2 * 10
    assert _ranking(ivf_pq_topk(queries, index, codes, book,
                                n_probe=4)) == plain


def test_ivf_pq_full_probe_equals_pq(spark, emb):
    """At n_probe == n_centroids the IVF pruning is disabled, so IVF-PQ
    must reproduce pq_topk exactly (same ADC scores, same ranking)."""
    book = train_pq(emb, m=16, k_sub=32, iters=5)
    codes = pq_encode(emb, book)
    index = build_ivf_index(emb, n_centroids=4, max_iter=3)
    queries = emb.filter(F.col("vec_id") < 5)

    full = ivf_pq_topk(queries, index, codes, book, k=10, n_probe=4)
    plain = pq_topk(queries, codes, book, k=10)
    assert _ranking(full) == _ranking(plain)
    # pruned probe returns k rows per query from the probed clusters only
    pruned = ivf_pq_topk(queries, index, codes, book, k=10, n_probe=1)
    counts = {r["query_id"]: 0 for r in pruned.collect()}
    for r in pruned.collect():
        counts[r["query_id"]] += 1
    assert all(1 <= c <= 10 for c in counts.values())


def test_pq_validates_inputs(spark, emb):
    with pytest.raises(ValueError, match="divide"):
        train_pq(emb, m=7, k_sub=16)
    with pytest.raises(ValueError, match="k_sub"):
        train_pq(emb, m=8, k_sub=1000)


def test_pq_join_fallback_matches_driver_path(spark, emb):
    """Beyond max_driver_queries, pq_topk switches to the distributed
    join formulation — same ADC scores, same tie-break, no driver LUTs.
    Forcing the threshold to 0 on the same query set must reproduce the
    driver-path results exactly."""
    book = train_pq(emb, m=8, k_sub=16, iters=5)
    codes = pq_encode(emb, book)
    queries = emb.filter(F.col("vec_id") < 8)
    d = _ranking(pq_topk(queries, codes, book, k=5))
    j = _ranking(pq_topk(queries, codes, book, k=5, max_driver_queries=0))
    assert d == j and len(d) == 8 * 5


def test_pq_join_fallback_at_10k_queries(spark, emb):
    """The scale contract: a 10k-query set (far past the driver-LUT bound)
    runs through the join formulation and returns a full top-k per query.
    Queries are synthetic tilings of the corpus vectors so the set is
    large without a large corpus."""
    book = train_pq(emb, m=8, k_sub=16, iters=3)
    codes = pq_encode(emb, book)
    from pyspark.sql import Window

    n_corpus = emb.count()
    base = emb.select(
        (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("__idx"),
        "embedding",
    )
    queries = (
        spark.range(10_000)
        .withColumn("__idx", F.col("id") % n_corpus)
        .join(base, "__idx")
        .select((F.col("id") + 1_000_000).alias("vec_id"), "embedding")
    )
    assert queries.count() == 10_000
    out = pq_topk(queries, codes, book, k=3, exclude_self=False)
    counts = out.groupBy("query_id").count().collect()
    assert len(counts) == 10_000
    assert all(r["count"] == 3 for r in counts)


def test_pq_exclude_self_optional(spark, emb):
    """External query id spaces: a corpus vector whose id happens to equal
    the query id must NOT be excluded when exclude_self=False."""
    book = train_pq(emb, m=8, k_sub=16, iters=5)
    codes = pq_encode(emb, book)
    queries = emb.filter(F.col("vec_id") == 3)
    with_self = pq_topk(queries, codes, book, k=1, exclude_self=False)
    r = with_self.first()
    # a vector's nearest ADC neighbor is itself (exact sub-dot-products)
    assert r["neighbor_id"] == 3
    without = pq_topk(queries, codes, book, k=1)
    assert without.first()["neighbor_id"] != 3
