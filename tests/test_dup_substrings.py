"""duplicated_substring_spans vs a brute-force reference: exact repeated
k-token runs are found corpus-wide, merged into maximal spans, and the
keep-one-copy policy spares exactly the first occurrence."""

import random

import pytest
from pyspark.sql import functions as F

from graflo_spark.ops.dedup import duplicated_substring_spans


def _brute_spans(docs: dict, k: int, exclude_first: bool):
    """docs: {id: text}. Returns {(id, start, end, n_tokens)}."""
    grams = {}
    for did in sorted(docs):
        toks = docs[did].strip().split()
        for pos in range(len(toks) - k + 1):
            grams.setdefault(tuple(toks[pos:pos + k]), []).append((did, pos))
    covered = {}
    for occs in grams.values():
        if len(occs) < 2:
            continue
        skip = min(occs) if exclude_first else None
        for occ in occs:
            if occ == skip:
                continue
            did, pos = occ
            covered.setdefault(did, set()).update(range(pos, pos + k))
    out = set()
    for did, cset in covered.items():
        run = sorted(cset)
        start = prev = run[0]
        for p in run[1:] + [None]:
            if p is None or p != prev + 1:
                out.add((did, start, prev, prev - start + 1))
                if p is not None:
                    start = p
            if p is not None:
                prev = p
    return out


def _got(spark, docs, k, exclude_first=False):
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string")
    return {
        (r["id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_substring_spans(
            df, k=k, exclude_first_occurrence=exclude_first).collect()
    }


def test_shared_run_and_merge(spark):
    docs = {
        0: "a b c d e f g h",
        1: "x y c d e f g z",        # shares c d e f g (5 tokens)
        2: "p q r s t u v w",        # unique
        3: "a b c d e f g h",        # exact dup of 0
    }
    got = _got(spark, docs, k=4)
    want = _brute_spans(docs, 4, False)
    assert got == want
    # doc 2 is untouched; docs 0/3 fully covered; 1's span is the shared run
    ids = {t[0] for t in got}
    assert 2 not in ids
    assert (0, 0, 7, 8) in got and (3, 0, 7, 8) in got
    assert (1, 2, 6, 5) in got


def test_exclude_first_occurrence_keeps_one_copy(spark):
    docs = {
        0: "a b c d e f g h",
        3: "a b c d e f g h",
        7: "a b c d e f g h",
    }
    got = _got(spark, docs, k=4, exclude_first=True)
    want = _brute_spans(docs, 4, True)
    assert got == want
    assert {t[0] for t in got} == {3, 7}  # first occurrence (doc 0) spared


def test_random_corpus_matches_brute_force(spark):
    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    docs = {
        i: " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(5, 30)))
        for i in range(30)
    }
    for k in (3, 5):
        for excl in (False, True):
            assert _got(spark, docs, k, excl) == _brute_spans(docs, k, excl)


def test_degenerate_inputs_and_within_doc_repetition(spark):
    docs = {0: "a b c d a b c d", 1: None, 2: "   ", 3: "short"}
    # NULL, blank and shorter-than-k docs emit nothing; within-doc
    # repetition: "a b c" at 0 and 4, "b c d" at 1 and 5 -> covers 0..3
    # and 4..7 -> one maximal span over the whole doc
    assert _got(spark, docs, k=3) == {(0, 0, 7, 8)}


def test_cut_spans_keeps_one_copy_corpus_wide(spark):
    from graflo_spark.ops.dedup import cut_duplicated_spans

    docs = {
        0: "intro a b c d e f outro",
        1: "x a b c d e f y",      # repeated run a..f (6 tokens)
        2: None,
        3: "q r s",
    }
    df = spark.createDataFrame(sorted(docs.items()), "doc_id long, text string")
    spans = duplicated_substring_spans(
        df, k=4, exclude_first_occurrence=True)
    out = {r["doc_id"]: r["text"]
           for r in cut_duplicated_spans(df, spans).collect()}
    # doc 0 owns the first occurrence -> untouched; doc 1 loses the run
    assert out[0] == "intro a b c d e f outro"
    assert out[1] == "x y"
    assert out[2] is None
    assert out[3] == "q r s"
    # fully-covered docs come back empty, not dropped
    docs2 = {0: "a b c d", 1: "a b c d"}
    df2 = spark.createDataFrame(sorted(docs2.items()), "doc_id long, text string")
    spans2 = duplicated_substring_spans(df2, k=4, exclude_first_occurrence=True)
    out2 = {r["doc_id"]: r["text"]
            for r in cut_duplicated_spans(df2, spans2).collect()}
    assert out2 == {0: "a b c d", 1: ""}


def test_cut_spans_with_id_column_named_id(spark):
    # Regression: the rebuilt side's internal "id" column collided with a
    # caller id_col of "id" (AMBIGUOUS_REFERENCE); the join is now on the
    # column-name list so the key coalesces.
    from graflo_spark.ops.dedup import cut_duplicated_spans

    docs = {
        0: "intro a b c d e f outro",
        1: "x a b c d e f y",
        2: "q r s",
    }
    df = spark.createDataFrame(sorted(docs.items()), "id long, text string")
    spans = duplicated_substring_spans(
        df, id_col="id", k=4, exclude_first_occurrence=True)
    out = {r["id"]: r["text"]
           for r in cut_duplicated_spans(df, spans, id_col="id").collect()}
    assert out == {0: "intro a b c d e f outro", 1: "x y", 2: "q r s"}
