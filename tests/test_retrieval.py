"""Lexical retrieval (ops/retrieval.py): BM25/tf-idf scores vs a pure-Python
reference, index probe == on-the-fly scoring, partition pruning on the
persisted index, and edge cases (blank text, unseen terms)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from graflo_spark.ops import retrieval as rt

K1, B = 1.2, 0.75


def _py_scores(docs, queries, method="bm25"):
    """Reference scorer over [(doc_id, text)] and [(query_id, text)]."""
    toks = {i: t.split() for i, t in docs}
    n = float(len(docs))
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for ws in toks.values():
        for w in set(ws):
            df[w] = df.get(w, 0) + 1
    out = {}
    for qid, qtext in queries:
        for did, ws in toks.items():
            s = 0.0
            hit = False
            for term in sorted(set(qtext.split())):
                tf = float(ws.count(term))
                if tf == 0:
                    continue
                hit = True
                d = float(df[term])
                if method == "bm25":
                    idf = math.log(1 + (n - d + 0.5) / (d + 0.5))
                    s += idf * tf * (K1 + 1) / (
                        tf + K1 * (1 - B + B * len(ws) / avgdl))
                else:
                    s += (1 + math.log(tf)) * math.log((n + 1) / (d + 1))
            if hit:
                out[(qid, did)] = s
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "spark join hash join join table"),
        (1, "window batch scan filter filter"),
        (2, "join window window spark spark spark"),
        (3, "table scan"),
        (4, ""),                       # blank doc: dl=0, never matches
        (5, "hash hash hash hash hash hash hash hash"),
    ]
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


QUERIES = [(0, "join spark"), (1, "hash"), (2, "scan filter table")]


@pytest.mark.parametrize("method", ["bm25", "tfidf"])
def test_scores_match_python_reference(spark, corpus, method):
    rows, df = corpus
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    got = rt.bm25_topk(qs, df, k=10, method=method, round_scores=None)
    expect = _py_scores(rows, QUERIES, method)
    got_rows = {(r.query_id, r.neighbor_id): r.score for r in got.collect()}
    assert set(got_rows) == set(expect)
    for key, v in expect.items():
        assert got_rows[key] == pytest.approx(v, rel=1e-12)


def test_topk_cut_and_rank_order(spark, corpus):
    _, df = corpus
    qs = spark.createDataFrame([(0, "join spark hash")],
                               "query_id long, text string")
    out = rt.bm25_topk(qs, df, k=2).orderBy("rank").collect()
    assert [r.rank for r in out] == [1, 2]
    assert out[0].score >= out[1].score


def test_salted_topk_equals_single_window(spark, corpus):
    """n_salts must not change the result: the salted local stage is a
    pure pruning step."""
    _, df = corpus
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    a = rt.bm25_topk(qs, df, k=3, n_salts=1)
    b = rt.bm25_topk(qs, df, k=3, n_salts=64)
    key = lambda r: (r.query_id, r.rank)
    assert sorted(a.collect(), key=key) == sorted(b.collect(), key=key)


def test_multi_method_one_pass_matches_two_calls(spark, corpus):
    """method=("bm25","tfidf") must return exactly the union of the two
    single-method calls, tagged by a leading method column (r14: the
    one-postings-pass optimization behind bm25_topk_documents)."""
    _, df = corpus
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    both = rt.bm25_topk(qs, df, k=3, method=("bm25", "tfidf"))
    assert both.columns == [
        "method", "query_id", "neighbor_id", "score", "rank"]
    key = lambda r: (r.method, r.query_id, r.rank)
    expect = []
    for m in ("bm25", "tfidf"):
        expect += [(m, r.query_id, r.neighbor_id, r.score, r.rank)
                   for r in rt.bm25_topk(qs, df, k=3, method=m).collect()]
    got = [(r.method, r.query_id, r.neighbor_id, r.score, r.rank)
           for r in both.collect()]
    assert sorted(got) == sorted(expect)
    # the require_all_terms filter applies per method identically
    ba = rt.bm25_topk(qs, df, k=3, method=("bm25", "tfidf"),
                      require_all_terms=True)
    ea = []
    for m in ("bm25", "tfidf"):
        ea += [(m, r.query_id, r.neighbor_id, r.score, r.rank)
               for r in rt.bm25_topk(qs, df, k=3, method=m,
                                     require_all_terms=True).collect()]
    ga = [(r.method, r.query_id, r.neighbor_id, r.score, r.rank)
          for r in ba.collect()]
    assert sorted(ga) == sorted(ea)
    with pytest.raises(ValueError, match="duplicate"):
        rt.bm25_topk(qs, df, method=("bm25", "bm25"))


def test_unseen_terms_and_no_match_query(spark, corpus):
    _, df = corpus
    qs = spark.createDataFrame(
        [(7, "zzz qqq"), (8, "join zzz")], "query_id long, text string")
    out = rt.bm25_topk(qs, df, k=5).collect()
    # query 7 matches nothing -> absent; query 8 scores on 'join' alone
    assert {r.query_id for r in out} == {8}
    assert {r.neighbor_id for r in out} == {0, 2}


def test_index_probe_matches_on_the_fly(spark, corpus, tmp_path):
    rows, df = corpus
    idx = rt.build_lexical_index(df, n_buckets=8)
    idx.write(str(tmp_path / "lexidx"))
    idx2 = rt.LexicalIndex.read(spark, str(tmp_path / "lexidx"))
    assert idx2.n_buckets == 8
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    direct = rt.bm25_topk(qs, df, k=10)
    probed = rt.bm25_topk(qs, index=idx2, k=10)
    key = lambda r: (r.query_id, r.rank)
    assert sorted(direct.collect(), key=key) == sorted(
        probed.collect(), key=key)


def test_index_probe_prunes_partitions(spark, corpus, tmp_path):
    """The probe's scan must read only the query vocabulary's term_bucket
    partitions — literal partition predicates, visible in the plan."""
    _, df = corpus
    idx = rt.build_lexical_index(df, n_buckets=8)
    idx.write(str(tmp_path / "lexidx"))
    idx2 = rt.LexicalIndex.read(spark, str(tmp_path / "lexidx"))
    terms = ["join", "spark"]
    plan = idx2.pruned(terms)._jdf.queryExecution().executedPlan().toString()
    buckets = sorted({rt.py_term_bucket(t, 8) for t in terms})
    pf = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
    assert f"IN ({','.join(map(str, buckets))})" in pf.replace(", ", ",")


def test_portable_bucket_twins_agree(spark):
    terms = ["join", "spark", "hash", "a", "", "ünïcode"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r.term: r.b
        for r in df.select(
            "term", rt.term_bucket(F.col("term"), 64).alias("b")).collect()
    }
    for t in terms:
        assert got[t] == rt.py_term_bucket(t, 64)


@pytest.mark.parametrize("hex_chars", [8, 15])
def test_md5_bits_twins_agree(spark, hex_chars):
    """The package's one content hash: the Column form and its Python twin
    agree bit for bit on ASCII, multi-byte unicode, empty and NULL input,
    and both equal the first ``hex_chars`` hex digits of hashlib's md5."""
    from graflo_spark.ops.util import md5_bits, py_md5_bits

    vals = ["join", "a b\tc", "ünïcode", "中文テキスト", "emoji 🙂", "", None]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i int, v string")
    got = {r.i: r.h for r in df.select(
        "i", md5_bits(F.col("v"), hex_chars).alias("h")).collect()}
    for i, v in enumerate(vals):
        assert got[i] == py_md5_bits(v, hex_chars), v
        if v is not None:
            want = int(hashlib.md5(v.encode()).hexdigest()[:hex_chars], 16)
            assert got[i] == want
    assert got[len(vals) - 1] is None


def test_index_extend_matches_rebuild(spark, corpus):
    """Incremental ingest == one-shot build: postings, n, avgdl, and the
    probe results all agree (extend never rescans the indexed corpus)."""
    rows, df = corpus
    first = df.filter(F.col("doc_id") < 3)
    rest = df.filter(F.col("doc_id") >= 3)
    inc = rt.build_lexical_index(first, n_buckets=8).extend(rest)
    full = rt.build_lexical_index(df, n_buckets=8)
    assert sorted(inc.stats.collect()) == sorted(full.stats.collect())
    key = lambda r: (r.doc_id, r.term)
    assert sorted(inc.postings.collect(), key=key) == sorted(
        full.postings.collect(), key=key)
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    rkey = lambda r: (r.query_id, r.rank)
    assert sorted(rt.bm25_topk(qs, index=inc, k=5).collect(), key=rkey) == \
        sorted(rt.bm25_topk(qs, index=full, k=5).collect(), key=rkey)


def test_require_all_terms_and_semantics(spark, corpus):
    _, df = corpus
    qs = spark.createDataFrame(
        [(0, "join spark"), (1, "join zzz")], "query_id long, text string")
    out = rt.bm25_topk(qs, df, k=10, require_all_terms=True).collect()
    # docs 0 and 2 contain BOTH 'join' and 'spark'; doc 1/3/5 lack one.
    # query 1 contains a term absent from the corpus -> matches nothing.
    assert {(r.query_id, r.neighbor_id) for r in out} == {(0, 0), (0, 2)}
    # AND-mode scores equal OR-mode scores for the surviving docs
    or_rows = {(r.query_id, r.neighbor_id): r.score
               for r in rt.bm25_topk(qs, df, k=10).collect()}
    for r in out:
        assert r.score == or_rows[(r.query_id, r.neighbor_id)]


def test_arg_validation(spark, corpus):
    _, df = corpus
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    with pytest.raises(ValueError):
        rt.bm25_topk(qs, df, index=rt.build_lexical_index(df))
    with pytest.raises(ValueError):
        rt.bm25_topk(qs)
    with pytest.raises(ValueError):
        rt.bm25_topk(qs, df, method="cosine")


# ------------------------------------------- incremental index store (r9)

def _probe(spark, idx, k=10):
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    return sorted(rt.bm25_topk(qs, index=idx, k=k).collect(),
                  key=lambda r: (r.query_id, r.rank))


def test_index_store_incremental_equals_oneshot(spark, corpus, tmp_path):
    rows, df = corpus
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=8)
    for lo, hi in ((0, 2), (2, 4), (4, 99)):
        store.ingest_batch(df.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), batch_id=lo)
    idx = store.as_index()
    full = rt.build_lexical_index(df, n_buckets=8)
    assert sorted(idx.stats.collect()) == sorted(full.stats.collect())
    assert _probe(spark, idx) == _probe(spark, full)


def test_index_store_precommit_crash_window(spark, corpus, tmp_path):
    """A batch that died AFTER writing its dirs but BEFORE the seq commit
    is invisible to reads and replaced verbatim by the retry."""
    rows, df = corpus
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=8)
    first, rest = df.filter(F.col("doc_id") < 3), df.filter(
        F.col("doc_id") >= 3)
    store.ingest_batch(first, batch_id=0)
    # simulate the orphan: write rest's dirs under the next seq, no commit
    seq, _ = store._state()
    post = rt.build_postings(rest, "doc_id", "text").withColumn(
        "term_bucket", rt.term_bucket(F.col("term"), 8))
    post.write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{store.path}/postings/batch={seq}")
    # orphan is pruned by batch < seq
    assert store.as_index().stats.collect()[0]["n"] == 3.0
    store.ingest_batch(rest, batch_id=1)   # the retry replaces the orphan
    assert _probe(spark, store.as_index()) == _probe(
        spark, rt.build_lexical_index(df, n_buckets=8))


def test_index_store_postcommit_replay_idempotent(spark, corpus, tmp_path):
    """Re-delivering the LAST committed batch_id (the foreachBatch
    at-least-once window) re-runs under its original seq: no
    double-counting, identical probe results."""
    rows, df = corpus
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=8)
    first, rest = df.filter(F.col("doc_id") < 3), df.filter(
        F.col("doc_id") >= 3)
    store.ingest_batch(first, batch_id=0)
    store.ingest_batch(rest, batch_id=1)
    before = _probe(spark, store.as_index())
    store.ingest_batch(rest, batch_id=1)   # replay
    assert store._state()[0] == 2          # seq did not advance
    assert store.as_index().stats.collect()[0]["n"] == float(len(rows))
    assert _probe(spark, store.as_index()) == before


def test_index_store_compact_preserves_results_and_bounds_dirs(
        spark, corpus, tmp_path):
    import glob

    rows, df = corpus
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=8)
    for i in range(len(rows)):
        store.ingest_batch(df.filter(F.col("doc_id") == i), batch_id=i)
    before = _probe(spark, store.as_index())
    assert len(glob.glob(f"{store.path}/postings/batch=*")) == len(rows)
    store.compact(full=True)
    dirs = glob.glob(f"{store.path}/postings/batch=*")
    # folded batch=0 + the preserved last committed (replay-window) dir
    assert len(dirs) == 2
    assert _probe(spark, store.as_index()) == before
    # the replay window still works after compaction
    last = df.filter(F.col("doc_id") == len(rows) - 1)
    store.ingest_batch(last, batch_id=len(rows) - 1)
    assert _probe(spark, store.as_index()) == before


def test_stream_lexical_index_end_to_end(spark, corpus, tmp_path):
    from graflo_spark.streaming import replay_as_stream, stream_lexical_index

    rows, df = corpus
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=8)
    q = stream_lexical_index(
        replay_as_stream(spark, df.repartition(3)), store,
        str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert _probe(spark, store.as_index()) == _probe(
        spark, rt.build_lexical_index(df, n_buckets=8))


# --------------------------------------- review-finding regressions (r9)

def test_extend_exact_with_null_texts(spark, tmp_path):
    """dl_sum-carried merge: extend == rebuild even when NULL-text docs
    make avg-of-avgs diverge (NULL text = zero-length doc everywhere)."""
    df = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "d e")], "doc_id long, text string")
    inc = rt.build_lexical_index(
        df.filter(F.col("doc_id") < 1), n_buckets=4
    ).extend(df.filter(F.col("doc_id") >= 1))
    full = rt.build_lexical_index(df, n_buckets=4)
    assert inc.stats.collect() == full.stats.collect()
    store = rt.LexicalIndexStore(
        spark, str(tmp_path / "lexnull"), n_buckets=4)
    store.ingest_batch(df.filter(F.col("doc_id") < 1), batch_id=0)
    store.ingest_batch(df.filter(F.col("doc_id") >= 1), batch_id=1)
    got = store.as_index().stats.select("n", "avgdl", "dl_sum").collect()
    assert got == full.stats.collect()


def test_all_blank_corpus_index_roundtrip(spark, tmp_path):
    """Zero postings (blank/NULL texts) must survive write/read and the
    store path — empty parquet dirs have no inferable schema."""
    df = spark.createDataFrame(
        [(0, ""), (1, None), (2, "   ")], "doc_id long, text string")
    idx = rt.build_lexical_index(df, n_buckets=4)
    idx.write(str(tmp_path / "blank"))
    back = rt.LexicalIndex.read(spark, str(tmp_path / "blank"))
    assert back.postings.count() == 0
    assert back.stats.collect()[0]["n"] == 3.0
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=4)
    store.ingest_batch(df, batch_id=0)
    sidx = store.as_index()
    assert sidx.postings.count() == 0
    assert sidx.stats.collect()[0]["avgdl"] == 0.0
    qs = spark.createDataFrame([(0, "a")], "query_id long, text string")
    assert rt.bm25_topk(qs, index=sidx, k=3).count() == 0


def test_store_recovers_from_compact_crash_window(spark, corpus, tmp_path):
    """A death between compact()'s two renames leaves the history only
    under .old-<sub>-*; the next read restores it."""
    import glob
    import os

    rows, df = corpus
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=8)
    for i in range(len(rows)):
        store.ingest_batch(df.filter(F.col("doc_id") == i), batch_id=i)
    before = _probe(spark, store.as_index())
    # construct the crash state: root moved aside, replacement not yet in
    os.rename(f"{store.path}/postings",
              f"{store.path}/.old-postings-deadbeef")
    got = _probe(spark, store.as_index())   # restore fires in _read_root
    assert got == before
    assert glob.glob(f"{store.path}/postings/batch=*")


def test_bm25_stats_param_matches_inline(spark, corpus):
    _, df = corpus
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    pre = rt.corpus_stats(df)
    key = lambda r: (r.query_id, r.rank)
    assert sorted(rt.bm25_topk(qs, df, k=5, stats=pre).collect(), key=key) \
        == sorted(rt.bm25_topk(qs, df, k=5).collect(), key=key)


def test_rrf_fuse_math_and_absent_docs(spark):
    """RRF = sum of 1/(60+rank) over the systems that ranked the doc;
    docs absent from one list contribute only the other's term."""
    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, neighbor_id long, rank int")
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)],
        "query_id long, neighbor_id long, rank int")
    out = {r.neighbor_id: r for r in rt.rrf_fuse([a, b], k=10).collect()}
    assert out[11].score == round(1 / 62 + 1 / 61, 6)   # in both lists
    assert out[10].score == round(1 / 61, 6)            # only in a
    assert out[13].score == round(1 / 62, 6)            # only in b
    assert out[11].rank == 1                            # fusion wins
    # equal scores (10 from a@1, 13 from b@... no: 10=1/61, 13=1/62) ->
    # strict ordering 11, 10, 13, 12
    assert [out[i].rank for i in (11, 10, 13, 12)] == [1, 2, 3, 4]
    import pytest

    with pytest.raises(ValueError):
        rt.rrf_fuse([])


def test_ingest_after_compact_crash_restores_history(spark, corpus, tmp_path):
    """The .old-* restore must fire on the WRITE path too: a restarted
    stream that ingests before reading must not bury the history under a
    fresh root (review finding)."""
    import glob
    import os

    rows, df = corpus
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=8)
    for i in range(4):
        store.ingest_batch(df.filter(F.col("doc_id") == i), batch_id=i)
    # crash window: root renamed aside, replacement never arrived
    os.rename(f"{store.path}/postings",
              f"{store.path}/.old-postings-crash")
    os.makedirs(f"{store.path}/postings")
    store.ingest_batch(df.filter(F.col("doc_id") == 4), batch_id=4)
    idx = store.as_index()
    assert idx.stats.collect()[0]["n"] == 5.0
    full = rt.build_lexical_index(
        df.filter(F.col("doc_id") < 5), n_buckets=8)
    key = lambda r: (r.doc_id, r.term)
    assert sorted(idx.postings.collect(), key=key) == sorted(
        full.postings.collect(), key=key)
    # the stale-.old sweep: nothing left behind once the root is live
    assert not glob.glob(f"{store.path}/.old-postings-*")


def test_zero_norm_group_normalizes_to_zero(spark):
    from graflo_spark.ops.simsearch import mean_pool_embeddings

    df = spark.createDataFrame(
        [(0, [1.0, -2.0]), (0, [-1.0, 2.0]), (1, [3.0, 4.0])],
        "g long, embedding array<double>")
    out = {r.g: r.embedding for r in mean_pool_embeddings(
        df, "g", normalize=True).collect()}
    assert out[0] == [0.0, 0.0]          # no ANSI divide-by-zero abort
    assert out[1] == [0.6, 0.8]


def test_read_backfills_missing_dl_sum(spark, corpus, tmp_path):
    rows, df = corpus
    idx = rt.build_lexical_index(df, n_buckets=4)
    idx.stats = idx.stats.drop("dl_sum")   # simulate a pre-dl_sum index
    idx.write(str(tmp_path / "old"))
    back = rt.LexicalIndex.read(spark, str(tmp_path / "old"))
    assert "dl_sum" in back.stats.columns
    extended = back.extend(
        spark.createDataFrame([(99, "join spark")],
                              "doc_id long, text string"))
    assert extended.stats.collect()[0]["n"] == float(len(rows)) + 1


PHRASE_QS = [(0, "join hash"), (1, "spark spark"), (2, "hash hash hash")]


def test_phrase_index_probe_matches_corpus_path(spark, corpus, tmp_path):
    """A persisted POSITIONAL index answers phrase queries identically to
    the corpus rescan — and still serves bm25 probes (tf rides along)."""
    _, df = corpus
    idx = rt.build_lexical_index(df, n_buckets=8, positions=True)
    idx.write(str(tmp_path / "posidx"))
    idx2 = rt.LexicalIndex.read(spark, str(tmp_path / "posidx"))
    assert idx2.positional
    qs = spark.createDataFrame(PHRASE_QS, "query_id long, text string")
    key = lambda r: (r.query_id, r.rank)
    direct = rt.phrase_topk(qs, df, k=10)
    probed = rt.phrase_topk(qs, index=idx2, k=10)
    assert sorted(direct.collect(), key=key) == sorted(
        probed.collect(), key=key)
    bm_direct = rt.bm25_topk(qs, df, k=10)
    bm_probed = rt.bm25_topk(qs, index=idx2, k=10)
    assert sorted(bm_direct.collect(), key=key) == sorted(
        bm_probed.collect(), key=key)


def test_phrase_index_probe_prunes_partitions(spark, corpus, tmp_path):
    """The phrase probe reads only the phrase vocabulary's term_bucket
    partitions — the same literal-predicate pruning the bm25 probe has."""
    _, df = corpus
    idx = rt.build_lexical_index(df, n_buckets=8, positions=True)
    idx.write(str(tmp_path / "posidx"))
    idx2 = rt.LexicalIndex.read(spark, str(tmp_path / "posidx"))
    qs = spark.createDataFrame([(0, "join spark")],
                               "query_id long, text string")
    out = rt.phrase_topk(qs, index=idx2, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    buckets = sorted({rt.py_term_bucket(t, 8) for t in ["join", "spark"]})
    pf = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
    assert f"IN ({','.join(map(str, buckets))})" in pf.replace(", ", ",")


def test_phrase_index_arg_validation(spark, corpus):
    _, df = corpus
    qs = spark.createDataFrame(PHRASE_QS, "query_id long, text string")
    tf_only = rt.build_lexical_index(df, n_buckets=4)
    with pytest.raises(ValueError, match="positional"):
        rt.phrase_topk(qs, index=tf_only)
    with pytest.raises(ValueError, match="exactly one"):
        rt.phrase_topk(qs)
    with pytest.raises(ValueError, match="exactly one"):
        rt.phrase_topk(qs, df, index=tf_only)


def test_positional_extend_matches_rebuild(spark, corpus):
    _, df = corpus
    part = rt.build_lexical_index(
        df.filter(F.col("doc_id") < 3), n_buckets=4, positions=True)
    ext = part.extend(df.filter(F.col("doc_id") >= 3))
    full = rt.build_lexical_index(df, n_buckets=4, positions=True)
    key = lambda r: (r.doc_id, r.term)
    got = sorted(ext.postings.collect(), key=key)
    want = sorted(full.postings.collect(), key=key)
    assert [(r.doc_id, r.term, r.positions) for r in got] == [
        (r.doc_id, r.term, r.positions) for r in want]
    assert ext.stats.collect() == full.stats.collect()


def test_index_store_positional_phrase_probe(spark, corpus, tmp_path):
    """Streaming-maintained positional index: incremental batches ==
    one-shot, phrase probes keep matching after compact()."""
    _, df = corpus
    store = rt.LexicalIndexStore(
        spark, str(tmp_path / "pstore"), n_buckets=4, positions=True)
    for lo, hi, bid in ((0, 2, "a"), (2, 4, "b"), (4, 6, "c")):
        store.ingest_batch(
            df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            batch_id=bid)
    qs = spark.createDataFrame(PHRASE_QS, "query_id long, text string")
    key = lambda r: (r.query_id, r.rank)
    direct = sorted(rt.phrase_topk(qs, df, k=10).collect(), key=key)
    idx = store.as_index()
    assert idx.positional
    assert sorted(rt.phrase_topk(qs, index=idx, k=10).collect(),
                  key=key) == direct
    store.compact(full=True)
    assert sorted(
        rt.phrase_topk(qs, index=store.as_index(), k=10).collect(),
        key=key) == direct


def test_index_store_reopen_adopts_persisted_layout(spark, corpus, tmp_path):
    """Layout config (n_buckets, positions) lives with the DATA: a store
    reopened with default constructor args (the crash-restart mode) must
    adopt the persisted layout — reopening a positional store as tf-only
    would silently NULL phrase probes and destroy positions at the next
    compact()."""
    _, df = corpus
    store = rt.LexicalIndexStore(
        spark, str(tmp_path / "s"), n_buckets=8, positions=True)
    store.ingest_batch(df.filter(F.col("doc_id") < 3), batch_id=0)
    reopened = rt.LexicalIndexStore(spark, str(tmp_path / "s"))
    assert reopened.positional and reopened.n_buckets == 8
    reopened.ingest_batch(df.filter(F.col("doc_id") >= 3), batch_id=1)
    reopened.compact(full=True)
    qs = spark.createDataFrame(PHRASE_QS, "query_id long, text string")
    key = lambda r: (r.query_id, r.rank)
    assert sorted(rt.phrase_topk(
        qs, index=reopened.as_index(), k=10).collect(), key=key
    ) == sorted(rt.phrase_topk(qs, df, k=10).collect(), key=key)


def test_mean_pool_ragged_lengths_raise(spark):
    from graflo_spark.ops.simsearch import mean_pool_embeddings

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [1.0, 2.0, 3.0]), (1, [3.0, 4.0])],
        "g long, embedding array<double>")
    with pytest.raises(Exception, match="ragged"):
        mean_pool_embeddings(df, "g").collect()
    # zero-length vectors are SKIPS (no dim rows), not violations
    ok = spark.createDataFrame(
        [(0, [2.0, 4.0]), (0, []), (1, [3.0, 4.0])],
        "g long, embedding array<double>")
    out = {r.g: r for r in mean_pool_embeddings(ok, "g").collect()}
    assert out[0].embedding == [2.0, 4.0] and out[0].n_members == 1


def test_empty_query_vocabulary_short_circuits(spark, corpus):
    """All-NULL/blank query texts: no corpus scan, a typed empty result
    (a zero-element array prefilter would be an array<void> hazard)."""
    _, df = corpus
    qs = spark.createDataFrame(
        [(0, ""), (1, None), (2, "   ")], "query_id long, text string")
    for out in (rt.bm25_topk(qs, df, k=5), rt.phrase_topk(qs, df, k=5)):
        assert out.columns == ["query_id", "neighbor_id", "score", "rank"]
        assert out.count() == 0
    idx = rt.build_lexical_index(df, n_buckets=4)
    assert rt.bm25_topk(qs, index=idx, k=5).count() == 0


def test_stats_with_index_rejected(spark, corpus):
    _, df = corpus
    qs = spark.createDataFrame(QUERIES, "query_id long, text string")
    idx = rt.build_lexical_index(df, n_buckets=4)
    with pytest.raises(ValueError):
        rt.bm25_topk(qs, index=idx, stats=rt.corpus_stats(df))


# ----------------------------------------------- phrase search (r9)

def test_phrase_topk_semantics(spark):
    docs = spark.createDataFrame([
        (0, "a b c a b"),       # "a b" twice, "a b c" once
        (1, "b a c"),           # both terms, never adjacent in order
        (2, "a a b"),           # "a b" once; "a a" once
        (3, "x y z"),
    ], "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "a b"), (1, "a a"), (2, "a b c"), (3, "q z")],
        "query_id long, text string")
    out = {(r.query_id, r.neighbor_id): r
           for r in rt.phrase_topk(qs, docs, k=5).collect()}
    assert out[(0, 0)].score == 2.0 and out[(0, 0)].rank == 1
    assert out[(0, 2)].score == 1.0 and out[(0, 2)].rank == 2
    assert (0, 1) not in out            # terms present but not adjacent
    # duplicate-term phrase: "a a" needs a at p AND p+1
    assert {k for k in out if k[0] == 1} == {(1, 2)}
    assert out[(2, 0)].score == 1.0     # 3-term phrase
    assert not any(k[0] == 3 for k in out)   # absent terms match nothing


def test_phrase_brute_force_property(spark):
    """phrase_topk == a pure-Python sliding-window count on a random-ish
    small-alphabet corpus (adjacency-dense, exercises every branch)."""
    words = ["a", "b", "c"]
    rows = [
        (i, " ".join(words[(i * 7 + j * 5 + j * j) % 3]
                     for j in range(12)))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    phrases = [(0, "a b"), (1, "b b"), (2, "c a c"), (3, "a b c")]
    qs = spark.createDataFrame(phrases, "query_id long, text string")
    got = {(r.query_id, r.neighbor_id): r.score
           for r in rt.phrase_topk(qs, docs, k=100).collect()}
    expect = {}
    for qid, ph in phrases:
        p = ph.split()
        for did, text in rows:
            t = text.split()
            n = sum(1 for s in range(len(t) - len(p) + 1)
                    if t[s:s + len(p)] == p)
            if n:
                expect[(qid, did)] = float(n)
    assert got == expect


# ---------------------------------------------------------------- tiered


def test_tiered_groups_policy():
    """Pure fold-policy unit: same-log4-bucket runs of >= min_run fold
    (ascending, caller targets the min id); smaller runs and lone big
    dirs are left alone."""
    from graflo_spark.ops._store_compact import tiered_groups

    sizes = {0: 100, 1: 110, 2: 90, 3: 95, 4: 100_000}
    assert tiered_groups(sizes, min_run=4) == [[0, 1, 2, 3]]
    # the big dir is a 1-member bucket: never folded
    assert tiered_groups({0: 100, 1: 100_000}, min_run=2) == []
    # three similar members under min_run=4 stay put
    assert tiered_groups({0: 100, 1: 110, 2: 95}, min_run=4) == []
    # ... but fold at min_run=2 (and groups come back sorted)
    assert tiered_groups({2: 95, 0: 100, 1: 110}, min_run=2) == [[0, 1, 2]]
    with pytest.raises(ValueError):
        tiered_groups(sizes, min_run=1)


def test_index_store_tiered_compact_skips_big_tier(spark, tmp_path):
    """Size-tiered compact folds only the ready tier: the big already-
    consolidated dir is carried into the new root as HARDLINKS (same
    inodes — metadata-only, no rewrite), so one compact()'s I/O is
    bounded by the small tier, not by index size."""
    import glob
    import os

    big_text = " ".join(f"tok{i} common{i % 7}" for i in range(3000))
    rows = [(0, big_text)] + [
        (i, f"small doc {i} spark join hash") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    store = rt.LexicalIndexStore(spark, str(tmp_path / "st"), n_buckets=8)
    for i in range(6):
        store.ingest_batch(df.filter(F.col("doc_id") == i), batch_id=i)
    before = _probe(spark, store.as_index())
    root = f"{store.path}/postings"
    big_files = {f: os.stat(f).st_ino
                 for f in glob.glob(f"{root}/batch=0/*/*.parquet")}
    assert big_files
    store.compact(min_run=4)
    vals = sorted(int(d.rsplit("=", 1)[1])
                  for d in glob.glob(f"{root}/batch=*"))
    # small tier {1..4} folded into batch=1; big batch=0 and the replay
    # window batch=5 preserved
    assert vals == [0, 1, 5]
    for f, ino in big_files.items():
        assert os.stat(f).st_ino == ino  # hardlinked, not rewritten
    assert _probe(spark, store.as_index()) == before
    # replay window still overwrites in place after the tiered fold
    store.ingest_batch(df.filter(F.col("doc_id") == 5), batch_id=5)
    assert _probe(spark, store.as_index()) == before


def test_index_store_explicit_layout_conflict_raises(spark, corpus,
                                                     tmp_path):
    """An EXPLICIT n_buckets/positions that conflicts with the persisted
    layout raises instead of being silently overridden; omitted args
    adopt the persisted layout; a populated pre-_meta store demands
    explicit args."""
    import os

    _, df = corpus
    store = rt.LexicalIndexStore(
        spark, str(tmp_path / "s"), n_buckets=8, positions=True)
    store.ingest_batch(df.filter(F.col("doc_id") < 3), batch_id=0)
    with pytest.raises(ValueError, match="n_buckets=8"):
        rt.LexicalIndexStore(spark, str(tmp_path / "s"), n_buckets=16)
    with pytest.raises(ValueError, match="positional"):
        rt.LexicalIndexStore(spark, str(tmp_path / "s"), positions=False)
    # matching explicit args are fine
    again = rt.LexicalIndexStore(
        spark, str(tmp_path / "s"), n_buckets=8, positions=True)
    assert again.n_buckets == 8 and again.positional
    # legacy store (postings, no _meta): defaults must not freeze over an
    # unknown layout
    os.remove(f"{store.path}/_meta")
    with pytest.raises(ValueError, match="pre-_meta"):
        rt.LexicalIndexStore(spark, str(tmp_path / "s"))
    legacy = rt.LexicalIndexStore(
        spark, str(tmp_path / "s"), n_buckets=8, positions=True)
    assert legacy.positional and os.path.exists(f"{store.path}/_meta")
