"""Incremental MinHash dedup store: batch-by-batch semantics, parity with
one-shot dedup, replay idempotence, and the streaming foreachBatch wiring."""

from pyspark.sql import functions as F

from graflo_spark.ops.dedup import MinHashDedupStore, minhash_dedup

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3, "completely different text about spark dataframes and shuffles at scale"),
    (4, "the quick brown fox jumps over the lazy dog again and again today"),
    (5, "completely different text about spark dataframes and shuffles at scale!"),
    (6, "unrelated third document mentioning streams windows and watermarks"),
]
SCHEMA = "doc_id long, text string"


def test_incremental_matches_one_shot_and_is_replay_safe(spark, tmp_path):
    b1 = spark.createDataFrame(ROWS[:3], SCHEMA)
    b2 = spark.createDataFrame(ROWS[3:], SCHEMA)
    store = MinHashDedupStore(spark, str(tmp_path / "store"), threshold=0.7)

    s1 = sorted(r["doc_id"] for r in store.dedup_batch(b1).collect())
    assert s1 == [1, 3]  # 2 is a near-dup of 1 (greedy keeps min id)
    s2 = sorted(r["doc_id"] for r in store.dedup_batch(b2).collect())
    # 4 = exact dup of stored 1; 5 = near-dup of stored 3; 6 is new
    assert s2 == [6]

    # batch-split union equals one-shot dedup on the full corpus
    allb = spark.createDataFrame(ROWS, SCHEMA)
    one_shot = sorted(
        r["doc_id"]
        for r in minhash_dedup(allb, "doc_id", "text", threshold=0.7).collect())
    assert sorted(s1 + s2) == one_shot

    # replay: re-delivering batch2 re-emits the SAME survivors (self-matches
    # excluded) — a crash between store append and output write must not
    # lose the batch's survivors — and does not grow the store
    n_sigs = spark.read.parquet(str(tmp_path / "store/sigs")).count()
    replay = sorted(r["doc_id"] for r in store.dedup_batch(b2).collect())
    assert replay == s2
    assert spark.read.parquet(str(tmp_path / "store/sigs")).count() == n_sigs


def test_vs_store_dedup_matches_surviving_representatives_only(spark, tmp_path):
    """Cross-batch chains dedup against the stored REPRESENTATIVE: a doc
    similar only to a batch-1 DROPPED member survives — the documented
    (and standard streaming-dedup) semantics."""
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [(10, near_a), (11, near_a + " mu")], SCHEMA)  # 11 dropped vs 10
    store = MinHashDedupStore(spark, str(tmp_path / "store"), threshold=0.7)
    assert sorted(r["doc_id"] for r in store.dedup_batch(b1).collect()) == [10]
    # doc 12 equals dropped 11's text: still matches representative 10 at
    # >= threshold here, so it drops — but a doc similar ONLY to 11 at a
    # level below 10's similarity band survives by design
    b2 = spark.createDataFrame([(12, near_a + " mu")], SCHEMA)
    assert store.dedup_batch(b2).count() == 0


def test_stream_minhash_dedup_foreachbatch(spark, tmp_path):
    from graflo_spark.streaming import stream_minhash_dedup

    src = str(tmp_path / "src")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(ROWS[:3], SCHEMA).coalesce(1).write.parquet(
        src + "/f1.parquet")
    spark.createDataFrame(ROWS[3:], SCHEMA).coalesce(1).write.parquet(
        src + "/f2.parquet")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    store = MinHashDedupStore(spark, str(tmp_path / "store"), threshold=0.7)
    out = str(tmp_path / "out")
    q = stream_minhash_dedup(stream, store, out, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 3, 6]


def test_minhash_dedup_hot_exact_group_collapses(spark):
    """A hot exact-duplicate group (boilerplate) must not explode the LSH
    pair join: survivors equal the uncollapsed greedy semantics, and the
    candidate stage sees one row per distinct text."""
    from graflo_spark.ops.dedup import minhash_dedup, minhash_lsh_candidates

    boiler = "cookie notice please accept our terms and conditions to continue"
    rows = [(i, boiler) for i in range(200)]  # hot group, ids 0..199
    rows += [
        (1000, "a genuinely unique document about distributed aggregation"),
        (1001, "a genuinely unique document about distributed aggregation!!"),
        (1002, "and one more totally unrelated text on partition pruning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(r["doc_id"] for r in minhash_dedup(
        df, "doc_id", "text", threshold=0.7).collect())
    # uncollapsed greedy semantics: min of the hot group survives, 1001
    # drops against 1000, 1002 unique
    assert out == [0, 1000, 1002]

    # the collapse really happened: candidates over the representative set
    # contain no pair with both sides inside the hot group
    reps = df.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    cand = minhash_lsh_candidates(reps, "doc_id", "text").collect()
    assert all(not (r["id_a"] < 200 and r["id_b"] < 200) or r["id_a"] == 0
               for r in cand)

    # threshold > 1 keeps everything (no est can exceed 1)
    assert minhash_dedup(df, "doc_id", "text", threshold=1.5).count() == len(rows)


def test_dedup_store_batch_with_hot_exact_group(spark, tmp_path):
    boiler = "cookie notice please accept our terms and conditions to continue"
    rows = [(i, boiler) for i in range(100)] + [
        (500, "first unique doc in this hot batch about window functions")]
    store = MinHashDedupStore(spark, str(tmp_path / "store"), threshold=0.7)
    out = sorted(
        r["doc_id"] for r in store.dedup_batch(
            spark.createDataFrame(rows, SCHEMA)).collect())
    assert out == [0, 500]
    # second batch: more of the same boilerplate, all dropped vs stored rep
    b2 = spark.createDataFrame([(600, boiler), (601, boiler)], SCHEMA)
    assert store.dedup_batch(b2).count() == 0


def test_near_dup_clusters_collapsed_hot_group(spark):
    """Clustering with the exact-dup collapse: a 300-member identical group
    plus a cross-text near-dup chain must produce the same clusters as the
    uncollapsed definition (computed via union-find on all verified pairs)."""
    from graflo_spark.ops.dedup import (
        minhash_lsh_candidates, minhash_near_dup_clusters)

    boiler = "cookie notice please accept our terms and conditions to continue"
    rows = [(i, boiler) for i in range(300)] + [
        (1000, "a genuinely unique document about distributed aggregation"),
        (1001, "a genuinely unique document about distributed aggregation!!"),
        (1002, "and one more totally unrelated text on partition pruning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_near_dup_clusters(df, "doc_id", "text", threshold=0.7)
    got = {r["doc_id"]: (r["cluster"], r["is_representative"])
           for r in out.collect()}
    assert len(got) == len(rows)  # every doc exactly once
    for i in range(300):
        assert got[i] == (0, i == 0)
    assert got[1000] == (1000, True)
    assert got[1001] == (1001, False) or got[1001][0] == 1000
    assert got[1002] == (1002, True)

    # ground truth via union-find over the (small) uncollapsed pair set of
    # DISTINCT texts expanded to members — equivalently: 1001 clusters with
    # 1000 iff their pair verifies
    pair_10 = minhash_lsh_candidates(
        spark.createDataFrame(rows[300:], "doc_id long, text string"),
        "doc_id", "text").filter(
        (F.col("id_a") == 1000) & (F.col("id_b") == 1001)
        & (F.col("est_jaccard") >= 0.7)).count()
    assert (got[1001][0] == 1000) == (pair_10 == 1)


def test_dedup_store_compaction(spark, tmp_path):
    """compact() consolidates the per-batch small files without changing
    dedup behavior."""
    import glob

    # genuinely DISTINCT texts (disjoint word sets): every doc must survive
    # and be stored, so each batch produces a real file-set append
    def text(n):
        return " ".join(f"w{n}x{k} term{n}y{k}" for k in range(12))

    store = MinHashDedupStore(spark, str(tmp_path / "store"), threshold=0.7)
    for i in range(3):
        batch = spark.createDataFrame(
            [(i * 10 + j, text(i * 10 + j)) for j in range(3)], SCHEMA)
        kept = store.dedup_batch(batch)
        assert kept.count() == 3  # all distinct -> all survive

    sig_files_before = glob.glob(str(tmp_path / "store/sigs/*.parquet"))
    assert len(sig_files_before) >= 3  # one file set per batch append
    n_sigs = spark.read.parquet(str(tmp_path / "store/sigs")).count()
    assert n_sigs == 9

    store.compact()
    sig_files_after = glob.glob(str(tmp_path / "store/sigs/*.parquet"))
    assert len(sig_files_after) == 1
    assert spark.read.parquet(str(tmp_path / "store/sigs")).count() == n_sigs

    # the store still dedups correctly after compaction (vs-store match)
    dup = spark.createDataFrame([(999, text(0))], SCHEMA)
    assert store.dedup_batch(dup).count() == 0


def test_null_text_rows_pass_through_everywhere(spark, tmp_path):
    """NULL texts have no shingles, so no pipeline may pair them: dedup
    keeps every null-text row, clustering emits each as its own singleton,
    and the store passes them through without storing."""
    from graflo_spark.ops.dedup import minhash_dedup, minhash_near_dup_clusters

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, None),
        (4, None),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    kept = sorted(r["doc_id"] for r in minhash_dedup(
        df, "doc_id", "text", threshold=0.7).collect())
    assert kept == [1, 3, 4]

    clusters = {r["doc_id"]: (r["cluster"], r["is_representative"])
                for r in minhash_near_dup_clusters(
                    df, "doc_id", "text", threshold=0.7).collect()}
    assert len(clusters) == 4
    assert clusters[3] == (3, True) and clusters[4] == (4, True)
    assert clusters[1] == (1, True) and clusters[2] == (1, False)

    store = MinHashDedupStore(spark, str(tmp_path / "store"), threshold=0.7)
    out = sorted(r["doc_id"] for r in store.dedup_batch(df).collect())
    assert out == [1, 3, 4]
    stored = {r["id"] for r in spark.read.parquet(
        str(tmp_path / "store/sigs")).collect()}
    assert stored == {1}  # null-text rows are not stored


def test_null_only_first_batch_does_not_poison_store(spark, tmp_path):
    """Regression (verified live): an all-NULL-text first batch used to
    write a schema-less bands directory that made every later dedup_batch
    crash with UNABLE_TO_INFER_SCHEMA."""
    store = MinHashDedupStore(spark, str(tmp_path / "store"), threshold=0.7)
    nulls = spark.createDataFrame([(1, None), (2, None)], SCHEMA)
    assert sorted(r["doc_id"] for r in store.dedup_batch(nulls).collect()) \
        == [1, 2]
    # the store must still work for subsequent real batches
    real = spark.createDataFrame(ROWS[:3], SCHEMA)
    assert sorted(r["doc_id"] for r in store.dedup_batch(real).collect()) \
        == [1, 3]
    again = spark.createDataFrame(
        [(50, ROWS[0][1])], SCHEMA)  # dup of stored doc 1
    assert store.dedup_batch(again).count() == 0


def test_store_recovers_from_compact_crash_window(spark, tmp_path):
    """A process death between compact()'s two renames leaves the data only
    under .old-{name}-*; the next access must restore it, not silently
    treat history as empty."""
    import os

    root = str(tmp_path / "store")
    store = MinHashDedupStore(spark, root, threshold=0.7)
    store.dedup_batch(spark.createDataFrame(ROWS[:3], SCHEMA))
    # simulate the crash window: sigs renamed away, compact died
    os.rename(f"{root}/sigs", f"{root}/.old-sigs-deadbeef")
    dup = spark.createDataFrame([(50, ROWS[0][1])], SCHEMA)
    assert store.dedup_batch(dup).count() == 0  # history intact
    assert os.path.isdir(f"{root}/sigs")  # restored in place


def test_minhash_portable_arrow_matches_expression_chain(spark):
    """r14 optimization pin: the Arrow-batched portable-md5 signature path
    must be BIT-identical to the former expression chain (explode ->
    md5-hex -> conv -> 64 affine min-aggregates), including short/empty
    texts (one whole-text shingle), duplicate ids (merged by min over the
    union of shingle sets) and NULL texts (no signature row)."""
    from pyspark.sql import functions as F

    from graflo_spark.ops import dedup as dd

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dot"),
        (2, "abc"),          # shorter than shingle_k
        (3, ""),             # empty text -> one empty shingle
        (4, None),           # NULL -> all-NULL signature row
        (5, "unicode éè中文 text body"),
        (6, "first half of a merged doc"),
        (6, "second half of a merged doc"),  # duplicate id
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r["id"]: list(r["sig"])
           for r in dd.minhash_signatures(
               df, "doc_id", "text", shingle_k=5, num_perm=16).collect()}

    # the former expression chain, inlined verbatim
    shingled = df.select(
        F.col("doc_id").alias("id"),
        F.explode(dd.char_shingles(F.col("text"), 5)).alias("s"))
    h = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    hashed = shingled.select(
        "id", h.bitwiseAND(F.lit(dd._MERSENNE_31)).alias("h"))
    coeffs = dd._perm_coeffs(16)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(dd._MERSENNE_31))
        .alias(f"_m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    want = {r["id"]: [r[f"_m{i}"] for i in range(16)]
            for r in hashed.groupBy("id").agg(*aggs).collect()}

    assert got == want
    assert got[4] == [None] * 16
