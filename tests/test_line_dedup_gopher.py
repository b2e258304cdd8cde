"""Corpus-wide line dedup (ops/dedup.dedup_lines — C4/Dolma scrub) and the
Gopher quality rule set (ops/textstats.gopher_quality_rules)."""

from pyspark.sql import functions as F

from graflo_spark.ops.dedup import dedup_lines
from graflo_spark.ops.textstats import gopher_quality_rules


def test_dedup_lines_keeps_first_occurrence_corpus_wide(spark):
    docs = [
        (0, "alpha beta\ncommon line\ngamma"),
        (1, "delta\ncommon line\nepsilon\n\nzeta"),
        (2, "common line"),
        (3, None),
        (4, "unique\n\nanother"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    # doc 0 owns "common line" (smallest (id, pos)); later copies vanish
    assert out[0] == "alpha beta\ncommon line\ngamma"
    assert out[1] == "delta\nepsilon\n\nzeta"
    assert out[2] == ""          # fully-duplicated doc -> empty, not dropped
    assert out[3] is None        # NULL passes through
    assert out[4] == "unique\n\nanother"
    # blank lines are structure: both docs keep theirs despite "duplication"
    assert "\n\n" in out[1] and "\n\n" in out[4]


def test_dedup_lines_portable_matches_production_hash(spark):
    """The md5 line hash reproduces the pure-Python reference exactly."""
    docs = [(i, f"line a\nline {i % 3}\nline b") for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fast = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    assert fast == _brute_dedup_lines(dict(docs))
    # owner semantics: doc 0 keeps everything, doc 1 and 2 keep only their
    # first-novel middle line, docs 3+ keep nothing
    assert fast[0] == "line a\nline 0\nline b"
    assert fast[1] == "line 1"
    assert fast[2] == "line 2"
    assert fast[3] == ""


def test_dedup_lines_respects_custom_id_column_named_id(spark):
    df = spark.createDataFrame(
        [(0, "x\ny"), (1, "x\nz")], "id long, text string")
    out = {r["id"]: r["text"]
           for r in dedup_lines(df, id_col="id").collect()}
    assert out == {0: "x\ny", 1: "z"}


def _brute_dedup_lines(docs: dict) -> dict:
    """Reference implementation: keep-first-occurrence by (id, pos) over
    non-blank lines; blank lines always kept; NULL passes through."""
    seen = set()
    out = {}
    for did in sorted(docs):
        if docs[did] is None:
            out[did] = None
            continue
        kept = []
        for line in docs[did].split("\n"):
            if line.strip() == "":
                kept.append(line)
            elif line not in seen:
                seen.add(line)
                kept.append(line)
        out[did] = "\n".join(kept)
    return out


def test_dedup_lines_random_corpus_matches_brute_force(spark):
    import random

    rng = random.Random(77)
    vocab = [f"line {i}" for i in range(12)] + ["", "  "]
    for trial in range(4):
        docs = {
            did: ("\n".join(rng.choice(vocab)
                            for _ in range(rng.randint(1, 8)))
                  if rng.random() > 0.1 else None)
            for did in range(rng.randint(3, 10))
        }
        df = spark.createDataFrame(
            sorted(docs.items()), "doc_id long, text string")
        got = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
        assert got == _brute_dedup_lines(docs), (trial, docs)


def test_gopher_rules_each_gate_and_conjunction(spark):
    good = " ".join(["the be to of and that have with word nine"] * 6)
    rows = [
        (0, good),                                   # every gate passes
        (1, "short doc"),                            # word count + stopwords
        (2, "# " + " ".join(["#tag"] * 60)),         # symbol ratio
        (3, "- a\n- b\n- c"),                        # bullet lines
        (4, ("end..." + "\n") * 4 + "plain"),        # ellipsis lines
        (5, " ".join(["12345"] * 60)),               # alpha words (+ others)
        (6, None),                                   # NULL -> all false
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in gopher_quality_rules(df).collect()}
    assert got[0]["gopher_pass"] is True
    assert all(v for k, v in got[0].items() if k.startswith("r_"))
    assert got[1]["r_word_count"] is False
    assert got[1]["r_stopwords"] is False
    assert got[2]["r_symbol_ratio"] is False
    assert got[3]["r_bullet_lines"] is False
    assert got[4]["r_ellipsis_lines"] is False
    assert got[5]["r_alpha_words"] is False
    assert got[6]["gopher_pass"] is False
    assert not any(v for k, v in got[6].items() if k.startswith("r_"))
    for d in (1, 2, 3, 4, 5):
        assert got[d]["gopher_pass"] is False


def test_gopher_word_count_bounds_are_parameters(spark):
    df = spark.createDataFrame(
        [(0, "the be to of and that have with extra words here now ok")],
        "doc_id long, text string")
    strict = gopher_quality_rules(df, min_words=50).collect()[0]
    loose = gopher_quality_rules(df, min_words=5).collect()[0]
    assert strict["r_word_count"] is False
    assert loose["r_word_count"] is True and loose["gopher_pass"] is True


def test_line_dedup_store_streaming_equals_batch(spark, tmp_path):
    """Feeding ordered batches through LineDedupStore equals one-shot
    dedup_lines over the union (arrival order == id order), and a line
    first seen in batch 1 is scrubbed from every later batch."""
    from graflo_spark.ops.dedup import LineDedupStore, dedup_lines

    b1 = spark.createDataFrame(
        [(0, "intro\nfooter text\nbody zero"),
         (1, "footer text\nbody one")],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(2, "body two\nfooter text"),
         (3, None),
         (4, "body two\nfresh line")],
        "doc_id long, text string")
    st = LineDedupStore(spark, str(tmp_path / "ls"))
    got = {}
    for b in (b1, b2):
        for r in st.scrub_batch(b).collect():
            got[r["doc_id"]] = r["text"]
    want = {r["doc_id"]: r["text"]
            for r in dedup_lines(b1.unionByName(b2)).collect()}
    assert got == want
    assert got[0] == "intro\nfooter text\nbody zero"  # owns everything
    assert got[1] == "body one"                        # loses the footer
    assert got[2] == "body two"                        # cross-batch scrub
    assert got[3] is None
    assert got[4] == "fresh line"                      # within-batch dup of 2


def test_line_dedup_store_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch retry (crash between the hash write and the seq
    commit) re-scrubs against exactly the pre-batch history: same output,
    no self-history double count."""
    from graflo_spark.ops.dedup import LineDedupStore

    b1 = spark.createDataFrame([(0, "alpha\nshared")],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(1, "shared\nbeta\nbeta dup\nbeta dup")],
                               "doc_id long, text string")
    st = LineDedupStore(spark, str(tmp_path / "ls"))
    st.scrub_batch(b1)
    first = {r["doc_id"]: r["text"] for r in st.scrub_batch(b2).collect()}
    # simulate the crash window: roll the committed seq back to batch 1's
    # value; batch=1's hash dir is now an orphan the retry must overwrite
    st._commit_seq(1)
    retry = {r["doc_id"]: r["text"] for r in st.scrub_batch(b2).collect()}
    assert retry == first == {1: "beta\nbeta dup"}
    # and a THIRD batch still sees exactly one copy of history
    b3 = spark.createDataFrame([(2, "beta\ngamma")],
                               "doc_id long, text string")
    out3 = {r["doc_id"]: r["text"] for r in st.scrub_batch(b3).collect()}
    assert out3 == {2: "gamma"}


def test_line_dedup_store_post_commit_replay_with_batch_id(spark, tmp_path):
    """The OTHER crash window: store commit succeeded but the caller's
    output write was lost, and foreachBatch re-delivers the batch. With
    the epoch batch_id passed through, the retry re-runs under its
    ORIGINAL seq — same scrubbed text, instead of seeing its own hashes
    as history and emitting empty documents."""
    from graflo_spark.ops.dedup import LineDedupStore

    b1 = spark.createDataFrame([(0, "alpha\nshared")],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(1, "shared\nbeta")],
                               "doc_id long, text string")
    st = LineDedupStore(spark, str(tmp_path / "ls"))
    st.scrub_batch(b1, batch_id=0)
    first = {r["doc_id"]: r["text"]
             for r in st.scrub_batch(b2, batch_id=1).collect()}
    # store commit is already durable here; the output write "was lost":
    # the SAME batch_id arrives again
    retry = {r["doc_id"]: r["text"]
             for r in st.scrub_batch(b2, batch_id=1).collect()}
    assert retry == first == {1: "beta"}
    # the store did not double-record: a later batch still scrubs once
    b3 = spark.createDataFrame([(2, "beta\nomega")],
                               "doc_id long, text string")
    out3 = {r["doc_id"]: r["text"]
            for r in st.scrub_batch(b3, batch_id=2).collect()}
    assert out3 == {2: "omega"}


def test_line_dedup_store_records_only_fresh_hashes(spark, tmp_path):
    """Recurring boilerplate must not re-enter the store every batch —
    growth is bounded by DISTINCT lines, not stream length."""
    import glob

    from graflo_spark.ops.dedup import LineDedupStore

    st = LineDedupStore(spark, str(tmp_path / "ls"))
    for i in range(3):
        b = spark.createDataFrame(
            [(i, f"boilerplate header\nunique {i}")],
            "doc_id long, text string")
        st.scrub_batch(b, batch_id=i)
    hashes = spark.read.parquet(str(tmp_path / "ls" / "lines"))
    # 1 boilerplate + 3 uniques = 4 distinct hashes, stored exactly once
    assert hashes.count() == 4
    assert hashes.select("_h").distinct().count() == 4
    assert len(glob.glob(str(tmp_path / "ls" / "lines" / "batch=*"))) == 3


def test_stream_line_dedup_end_to_end(spark, tmp_path):
    """replay_as_stream -> foreachBatch LineDedupStore scrub -> parquet:
    the streamed output equals the one-shot dedup_lines over the corpus
    (arrival order == id order via pinned mtimes in replay_as_stream)."""
    from graflo_spark.ops.dedup import LineDedupStore, dedup_lines
    from graflo_spark.streaming import replay_as_stream, stream_line_dedup

    docs = spark.createDataFrame(
        [(i, f"header common\nbody {i}") for i in range(6)],
        "doc_id long, text string")
    store = LineDedupStore(spark, str(tmp_path / "ls"))
    out = str(tmp_path / "scrubbed")
    q = stream_line_dedup(
        replay_as_stream(spark, docs.repartition(3)), store, out,
        str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert len(got) == 6
    # exactly one surviving copy of the shared header, on the earliest doc
    # OF THE EARLIEST BATCH (arrival order, which replay pins to id order
    # only within a file — so assert the global property, not the owner id)
    keepers = [d for d, t in got.items() if "header common" in t]
    assert len(keepers) == 1
    assert all(f"body {d}" in got[d] for d in got)


def test_line_dedup_store_compaction(spark, tmp_path):
    """compact() folds every batch dir before the replay window into ONE
    consolidated partition — same scrub results, bounded file count — and
    preserves both crash-window guarantees across the fold."""
    import glob

    from graflo_spark.ops.dedup import LineDedupStore

    st = LineDedupStore(spark, str(tmp_path / "ls"))
    for i in range(6):
        b = spark.createDataFrame(
            [(i, f"boilerplate header\nunique {i}")],
            "doc_id long, text string")
        st.scrub_batch(b, batch_id=i)
    root = str(tmp_path / "ls" / "lines")
    assert len(glob.glob(f"{root}/batch=*")) == 6
    st.compact(full=True)
    # batches 0..4 folded into batch=0; batch=5 (replay window) preserved
    vals = sorted(int(d.rsplit("=", 1)[1])
                  for d in glob.glob(f"{root}/batch=*"))
    assert vals == [0, 5]
    hashes = spark.read.parquet(root)
    assert hashes.count() == 7  # 1 boilerplate + 6 uniques, each once
    assert hashes.select("_h").distinct().count() == 7

    # scrubbing continues correctly against the folded history
    b = spark.createDataFrame(
        [(100, "boilerplate header\nunique 3\nunique 5\nbrand new")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in st.scrub_batch(b, batch_id=6).collect()}
    assert got == {100: "brand new"}

    # post-commit replay (same batch_id) still re-runs under the original
    # seq: identical output, not empty documents
    retry = {r["doc_id"]: r["text"]
             for r in st.scrub_batch(b, batch_id=6).collect()}
    assert retry == got

    # idempotent: a second compact right after is a no-op fold of one dir
    st.compact(full=True)
    # +1: only "brand new" was fresh (the other three lines were already
    # in history and fresh-only recording never re-stores them)
    assert spark.read.parquet(root).count() == 8


def test_line_dedup_store_compact_replay_window_after_fold(spark, tmp_path):
    """A post-commit replay arriving IMMEDIATELY after compact() must not
    see its own batch's hashes as history (they were preserved verbatim,
    not folded)."""
    from graflo_spark.ops.dedup import LineDedupStore

    st = LineDedupStore(spark, str(tmp_path / "ls"))
    for i in range(3):
        b = spark.createDataFrame(
            [(i, f"shared line\nonly {i}")], "doc_id long, text string")
        first = {r["doc_id"]: r["text"]
                 for r in st.scrub_batch(b, batch_id=i).collect()}
    st.compact(full=True)
    retry = {r["doc_id"]: r["text"]
             for r in st.scrub_batch(b, batch_id=2).collect()}
    assert retry == first == {2: "only 2"}


def test_line_dedup_store_recovers_from_compact_crash_window(spark, tmp_path):
    """Process death between compact()'s two renames leaves the history
    only under .old-lines-*; the next access restores it — no silent
    loss."""
    import glob
    import os

    from graflo_spark.ops.dedup import LineDedupStore

    st = LineDedupStore(spark, str(tmp_path / "ls"))
    for i in range(4):
        b = spark.createDataFrame(
            [(i, f"common\nrow {i}")], "doc_id long, text string")
        st.scrub_batch(b, batch_id=i)
    # simulate the crash: root renamed away, staging never swapped in
    root = str(tmp_path / "ls" / "lines")
    os.rename(root, str(tmp_path / "ls" / ".old-lines-simulated"))
    os.makedirs(root)  # what __init__ recreates on restart
    st2 = LineDedupStore(spark, str(tmp_path / "ls"))
    b = spark.createDataFrame(
        [(9, "common\nrow 2\nnovel")], "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in st2.scrub_batch(b, batch_id=4).collect()}
    assert got == {9: "novel"}  # full history intact after restore
    assert glob.glob(f"{root}/batch=*")


def test_gopher_exploded_formulation_matches_hof(spark, sf_dir):
    """gopher_quality_rules_exploded (the codegen A/B twin) must equal the
    array-HOF form bit-for-bit on the real corpus AND on the edge shapes
    (NULL, empty, whitespace-only, bullet-heavy, ellipsis-heavy)."""
    from graflo_spark.ops.textstats import (
        gopher_quality_rules,
        gopher_quality_rules_exploded,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    edge = spark.createDataFrame(
        [(10_000, None),
         (10_001, ""),
         (10_002, "   \n  \n "),
         (10_003, "- one\n* two\n• three\nplain"),
         (10_004, "waiting...\nstill…\nthe end of that have with be to"),
         (10_005, "# ## #tag " + "the be to of and that have with " * 8),
         (10_006, "ab " * 60)],
        "doc_id long, text string")
    df = docs.unionByName(edge)
    for kw in ({}, {"min_words": 5, "max_words": 80}):
        a = gopher_quality_rules(df, "doc_id", "text", **kw)
        b = gopher_quality_rules_exploded(df, "doc_id", "text", **kw)
        assert sorted(a.columns) == sorted(b.columns)
        cols = a.columns
        mism = a.exceptAll(b.select(*cols)).count() \
            + b.select(*cols).exceptAll(a).count()
        assert mism == 0, (kw, mism)


# ------------------------------------------------- C4 line cleaning (r9)

def test_c4_clean_published_defaults(spark):
    from graflo_spark.ops.textstats import c4_clean_lines

    rows = [
        # 2 good lines survive, 'short' and the javascript line drop ->
        # kept 2 < min_kept_lines 3 -> page fails
        (0, "This is a good long sentence here.\nshort\n"
            "Another decent line with enough words!\n"
            "Enable javascript to view this page properly now."),
        # blocked page: lines survive cleaning but doc_pass is False
        (1, "Lorem Ipsum dolor sit amet and more words here.\n"
            "A second full sentence with many words too.\n"
            "Third ok sentence with lots of words here."),
        (2, None),
        # clean page: every line ends terminally, >=5 words, no blocks
        (3, "One good sentence with many strong words here.\n"
            "Two good sentence with many strong words here.\n"
            "Six good sentence with many strong words here."),
        # no terminal punctuation anywhere -> nothing kept
        (4, "five words but no punctuation at all\n"
            "again five words but no punctuation"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_clean_lines(df).collect()}

    assert out[0].n_lines == 4 and out[0].n_lines_kept == 2
    assert not out[0].doc_pass
    assert "javascript" not in out[0].text and "short" not in out[0].text
    assert out[1].n_lines_kept == 3 and not out[1].doc_pass  # lorem ipsum
    assert out[2].text is None and out[2].n_lines_kept == 0
    assert not out[2].doc_pass
    assert out[3].doc_pass and out[3].text == rows[3][1]
    assert out[4].n_lines_kept == 0 and out[4].text == ""
    assert not out[4].doc_pass


def test_c4_clean_terminal_punct_disabled_and_brace_block(spark):
    from graflo_spark.ops.textstats import c4_clean_lines

    rows = [
        (0, "alpha beta gamma delta epsilon zeta\n"
            "one two three four five six\n"
            "seven eight nine ten eleven twelve"),
        (1, "function() { return 1 } with many words here today\n"
            "more words in this second line right here now\n"
            "and a third line with plenty of words too"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_clean_lines(
        df, terminal_punct=None).collect()}
    assert out[0].doc_pass and out[0].n_lines_kept == 3
    assert not out[1].doc_pass            # '{' page block
    assert out[1].n_lines_kept == 3       # ...but lines themselves survive


def test_collocations_no_forced_unigram_broadcast(spark):
    """The 100 TB guard: the unigram table must reach its two joins
    semi-pruned (LeftSemi against surviving-pair terms) and WITHOUT a
    broadcast hint — only the one-row corpus total keeps one. A forced
    broadcast of a raw-crawl vocabulary (1e8-1e9 distinct tokens) OOMs
    executors; AQE decides at runtime instead."""
    from graflo_spark.ops.textstats import collocations

    df = spark.createDataFrame(
        [("a b a b c d",), ("a b e f",)], "text string")
    out = collocations(df, k=5, min_count=2)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1      # the 1-row total only
    assert "LeftSemi" in analyzed                   # the vocabulary prune
    top = out.orderBy("rank").first()
    assert (top.term_a, top.term_b, top.n_pair) == ("a", "b", 3)


def test_c4_driver_oracle_null_blank_parity(spark):
    """The catalog's C4 oracle and the Spark chain share ONE contract for
    NULL and zero-token documents: NULL text -> (NULL, 0, 0, fail); blank
    text reflows to '' -> (one empty line, 0 kept, fail). The sf fixtures
    carry no such docs, so this is the branch's only executable proof."""
    import duckdb

    from graflo_spark.catalog import _C4_CLEAN_ORACLE
    from graflo_spark.ops import dedup as dd
    from graflo_spark.ops import textstats as ts

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "),
         (3, "a b c d e f g h i j k l"),
         (4, "customer " * 12)],
        "doc_id long, text string")
    staged = dd.reflow_lines(docs, "doc_id", "text", width=10)
    got = ts.c4_clean_lines(
        staged, "doc_id", "text", min_words_per_line=10,
        terminal_punct=None, line_blocklist=("customer",),
        min_kept_lines=5,
    ).toPandas()
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute(_C4_CLEAN_ORACLE).fetchdf()

    def norm(pdf):
        pdf = pdf[sorted(pdf.columns)].copy()
        for c in pdf.columns:
            pdf[c] = pdf[c].map(
                lambda v: "NULL" if v is None or (
                    isinstance(v, float) and v != v) else str(v))
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    assert len(got) == 5 and len(want) == 5
    import pandas as pd

    pd.testing.assert_frame_equal(norm(got), norm(want))


# ------------------------------------------- vocabulary stats (r9)

def test_top_terms_counts_and_ties(spark):
    from graflo_spark.ops.textstats import top_terms

    rows = [
        (0, "apple banana apple cherry"),
        (1, "banana apple"),
        (2, None),
        (3, "cherry  apple "),          # messy whitespace
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.term: (r.n, r.n_docs, r.rank)
           for r in top_terms(df, k=10).collect()}
    assert got["apple"] == (4, 3, 1)
    assert got["banana"] == (2, 2, 2)   # tie with cherry -> term order
    assert got["cherry"] == (2, 2, 3)
    assert len(got) == 3
    # k cuts the tail deterministically
    top1 = top_terms(df, k=1).collect()
    assert [(r.term, r.rank) for r in top1] == [("apple", 1)]


def test_collocations_pmi_matches_math(spark):
    import math

    from graflo_spark.ops.textstats import collocations

    rows = [(i, "red wine pairs well") for i in range(3)] + [
        (10, "red car"), (11, "wine red")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.term_a, r.term_b): r for r in collocations(
        df, k=10, min_count=2).collect()}
    # corpus: 3x(red wine / wine pairs / pairs well), 1x(red car),
    # 1x(wine red); totals: red 5, wine 4, pairs 3, well 3; n_total 16
    rw = out[("red", "wine")]
    assert rw.n_pair == 3
    assert rw.pmi == round(math.log(16 * 3 / (5 * 4)), 6)
    pw = out[("pairs", "well")]
    assert pw.pmi == round(math.log(16 * 3 / (3 * 3)), 6)
    # min_count prunes the hapax pairs (red car, wine red)
    assert ("red", "car") not in out and ("wine", "red") not in out
    # ranking is by PMI desc: pairs/well (rarer unigrams) outranks red/wine
    assert pw.rank < rw.rank


def test_line_dedup_store_tiered_compact_skips_big_tier(spark, tmp_path):
    """Size-tiered compact folds only the ready small tier; the big
    consolidated dir enters the new root as hardlinks (same inodes) and
    scrubbing continues correctly against the mixed-tier history."""
    import glob
    import os

    from graflo_spark.ops.dedup import LineDedupStore

    st = LineDedupStore(spark, str(tmp_path / "ls"))
    big = "\n".join(f"bulk line {i}" for i in range(4000))
    st.scrub_batch(spark.createDataFrame(
        [(0, big)], "doc_id long, text string"), batch_id=0)
    for i in range(1, 6):
        st.scrub_batch(spark.createDataFrame(
            [(i, f"common header\nonly {i}")],
            "doc_id long, text string"), batch_id=i)
    root = str(tmp_path / "ls" / "lines")
    big_inos = {f: os.stat(f).st_ino
                for f in glob.glob(f"{root}/batch=0/*.parquet")}
    assert big_inos
    st.compact(min_run=4)
    vals = sorted(int(d.rsplit("=", 1)[1])
                  for d in glob.glob(f"{root}/batch=*"))
    # {1..4} folded into batch=1; batch=0 (big tier) and batch=5 (replay
    # window) preserved
    assert vals == [0, 1, 5]
    for f, ino in big_inos.items():
        assert os.stat(f).st_ino == ino
    # history intact: every line seen once, later copies scrubbed
    b = spark.createDataFrame(
        [(100, "common header\nbulk line 17\nonly 3\nfresh")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in st.scrub_batch(b, batch_id=6).collect()}
    assert got == {100: "fresh"}
