"""Sequence packing (two-phase global cumsum, chunk spans) and corpus
mixing: exact-offset correctness vs a single-node reference, partition-
layout invariance, chunk-span coverage invariants, mixing proportions."""

import pytest
from pyspark.sql import functions as F

from graflo_spark.ops.packing import pack_chunks, token_offsets
from graflo_spark.ops.sampling import mix_corpora


def _docs(spark, n=500, seed_mod=17):
    # deterministic ragged token counts incl. 0 and > chunk_tokens
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 37 % seed_mod * 23 % 301).cast("int").alias("n_tok"),
    )


def test_token_offsets_match_single_node(spark):
    df = _docs(spark)
    got = {
        r["doc_id"]: (r["tok_start"], r["tok_end"])
        for r in token_offsets(df, "n_tok", "doc_id").collect()
    }
    acc = 0
    for row in df.orderBy("doc_id").collect():
        assert got[row["doc_id"]] == (acc, acc + row["n_tok"])
        acc += row["n_tok"]
    # layout invariance: a different input partitioning, same offsets
    got2 = {
        r["doc_id"]: (r["tok_start"], r["tok_end"])
        for r in token_offsets(df.repartition(13), "n_tok", "doc_id").collect()
    }
    assert got2 == got


def test_token_offsets_plan_shape(spark):
    df = token_offsets(_docs(spark), "n_tok", "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the corpus-side window is partitioned by the deterministic bucket id,
    # never a single-partition global window over the corpus
    assert "hashpartitioning(_pid" in plan
    assert "BatchEvalPython" not in plan
    # no range partitioner anywhere: the bucket id comes from quantile
    # LITERALS, so no plan branch depends on partitioner sampling
    assert "rangepartitioning" not in plan.lower()
    # two _pid exchanges: the window's (the ONE corpus-sized shuffle) and
    # the totals branch's — which moves only partial-aggregate rows
    # (n_buckets per input partition): partial_sum must sit BELOW it
    import re

    assert len(re.findall(r"Exchange hashpartitioning\(_pid", plan)) == 2
    assert "partial_sum" in plan


def test_token_offsets_correct_when_exchange_reuse_disabled(spark):
    """The bucket id is a pure function of the order key (quantile-literal
    boundaries), so offsets stay correct even when exchange reuse is off —
    the repartitionByRange+spark_partition_id formulation silently
    misaligns branches under this config."""
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        df = _docs(spark, n=300)
        got = {r["doc_id"]: (r["tok_start"], r["tok_end"])
               for r in token_offsets(df, "n_tok", "doc_id").collect()}
        acc = 0
        for row in df.orderBy("doc_id").collect():
            assert got[row["doc_id"]] == (acc, acc + row["n_tok"])
            acc += row["n_tok"]
    finally:
        spark.conf.unset("spark.sql.exchange.reuse")


def test_pack_chunks_invariants(spark):
    B = 64
    df = _docs(spark)
    spans = pack_chunks(df, "doc_id", "n_tok", B).collect()
    by_doc: dict[int, list] = {}
    for r in spans:
        by_doc.setdefault(r["id"], []).append(r)
    total = {r["doc_id"]: r["n_tok"] for r in df.collect()}
    # every non-empty doc fully covered by contiguous in-doc slices
    for doc, n in total.items():
        rows = sorted(by_doc.get(doc, []), key=lambda r: r["chunk_id"])
        if n == 0:
            assert rows == []
            continue
        assert rows[0]["doc_tok_start"] == 0
        assert rows[-1]["doc_tok_end"] == n
        for a, b in zip(rows, rows[1:]):
            assert a["doc_tok_end"] == b["doc_tok_start"]  # contiguous
            assert b["chunk_id"] == a["chunk_id"] + 1  # consecutive chunks
    # every chunk except the last is exactly full
    per_chunk: dict[int, int] = {}
    for r in spans:
        per_chunk[r["chunk_id"]] = per_chunk.get(r["chunk_id"], 0) + (
            r["doc_tok_end"] - r["doc_tok_start"]
        )
    last = max(per_chunk)
    assert set(per_chunk) == set(range(last + 1))  # no chunk gaps
    for c, filled in per_chunk.items():
        assert filled == B or (c == last and 0 < filled <= B)

    with pytest.raises(ValueError, match="chunk_tokens"):
        pack_chunks(df, "doc_id", "n_tok", 0)


def test_incremental_packing_resumes_stream(spark):
    """base_offset makes batch N+1's chunks continue batch N's token
    stream: packing two batches incrementally == packing the union."""
    full = _docs(spark, n=400)
    b1 = full.filter(F.col("doc_id") < 200)
    b2 = full.filter(F.col("doc_id") >= 200)
    one_shot = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in pack_chunks(full, "doc_id", "n_tok", 64).collect()
    }
    first = pack_chunks(b1, "doc_id", "n_tok", 64)
    running_total = first.agg(F.max("tok_end")).collect()[0][0]
    second = pack_chunks(
        b2, "doc_id", "n_tok", 64, base_offset=running_total
    )
    incremental = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in first.collect() + second.collect()
    }
    assert incremental == one_shot


def test_materialize_chunks_reassembles_stream(spark):
    from graflo_spark.ops.packing import materialize_chunks

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e"), (2, "f g h i"), (3, "")],
        ["doc_id", "text"],
    ).withColumn(
        "n_tok",
        F.when(F.length(F.trim("text")) == 0, 0).otherwise(
            F.size(F.split(F.trim("text"), r"\s+"))
        ),
    )
    spans = pack_chunks(docs, "doc_id", "n_tok", 4)
    out = {
        r["chunk_id"]: r
        for r in materialize_chunks(docs, spans, "doc_id", "text").collect()
    }
    # stream "a b c d e f g h i" cut every 4 tokens
    assert out[0]["chunk_text"] == "a b c d" and out[0]["n_docs"] == 2
    assert out[1]["chunk_text"] == "e f g h" and out[1]["n_docs"] == 2
    assert out[2]["chunk_text"] == "i" and out[2]["n_docs"] == 1


def test_materialize_chunks_groups_per_split(spark):
    """prepare_training_data restarts chunk_id at 0 per split: train chunk
    0 and val chunk 0 are DIFFERENT sequences and must not concatenate."""
    from graflo_spark.ops.packing import materialize_chunks

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "x y z")], ["doc_id", "text"]
    ).withColumn("n_tok", F.lit(3))
    spans_train = pack_chunks(
        docs.filter("doc_id = 0"), "doc_id", "n_tok", 4
    ).withColumn("split", F.lit("train"))
    spans_val = pack_chunks(
        docs.filter("doc_id = 1"), "doc_id", "n_tok", 4
    ).withColumn("split", F.lit("val"))
    out = {
        (r["split"], r["chunk_id"]): r["chunk_text"]
        for r in materialize_chunks(
            docs, spans_train.unionByName(spans_val), "doc_id", "text"
        ).collect()
    }
    assert out == {("train", 0): "a b c", ("val", 0): "x y z"}


def test_packing_store_incremental_equals_one_shot(spark, tmp_path):
    from graflo_spark.ops.packing import PackingStore

    full = _docs(spark, n=300)
    store = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        store.pack_batch(
            full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)))
    got = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in store.spans().collect()
    }
    want = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in pack_chunks(full, "doc_id", "n_tok", 64).collect()
    }
    assert got == want  # three incremental batches == one-shot packing
    total = full.agg(F.sum("n_tok")).first()[0]
    assert store.running_total() == total
    # a fresh store handle resumes from the persisted total
    store2 = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    assert store2.running_total() == total


def test_mix_corpora_proportions_and_determinism(spark):
    web = spark.range(10_000).select(F.col("id").alias("doc_id"))
    code = spark.range(3_000).select((F.col("id") + 100_000).alias("doc_id"))
    out = mix_corpora(
        {"web": web, "code": code}, {"web": 0.7, "code": 0.3}, "doc_id"
    )
    counts = {r["source_name"]: r["count"]
              for r in out.groupBy("source_name").count().collect()}
    # code is the binding source: all 3000 kept, web downsampled to ~7000
    assert counts["code"] == 3_000
    assert abs(counts["web"] - 7_000) < 300
    # deterministic: rerun yields the identical id set
    again = mix_corpora(
        {"web": web, "code": code}, {"web": 0.7, "code": 0.3}, "doc_id"
    )
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in again.collect()
    }

    with pytest.raises(ValueError, match="identical keys"):
        mix_corpora({"web": web}, {"web": 0.5, "code": 0.5}, "doc_id")


def test_temperature_weights():
    from graflo_spark.ops.sampling import temperature_weights

    counts = {"web": 1_000_000, "books": 10_000}
    w1 = temperature_weights(counts, alpha=1.0)
    assert abs(w1["web"] - 1_000_000 / 1_010_000) < 1e-12  # proportional
    w0 = temperature_weights(counts, alpha=0.0)
    assert w0 == {"web": 0.5, "books": 0.5}  # uniform
    w = temperature_weights(counts, alpha=0.3)
    assert w1["books"] < w["books"] < 0.5  # boosts the small source
    assert abs(sum(w.values()) - 1.0) < 1e-12

    with pytest.raises(ValueError, match="positive"):
        temperature_weights({"web": 0})


def test_select_representatives(spark):
    from graflo_spark.ops.dedup import select_representatives

    clusters = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (3, 1, False), (9, 9, True)],
        ["doc_id", "cluster", "is_representative"],
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9)], ["doc_id", "score"]
    )  # doc 9 unscored
    out = {r["doc_id"]: r for r in
           select_representatives(clusters, scores).collect()}
    assert len(out) == 4  # assignment preserved
    # max score wins; 2 vs 3 tie breaks to the smaller id
    assert out[2]["is_representative"] and not out[3]["is_representative"]
    assert not out[1]["is_representative"]  # min-id loses to better score
    assert out[9]["is_representative"]  # unscored singleton keeps itself
    assert all(r["cluster"] in (1, 9) for r in out.values())


def test_packing_store_retry_is_idempotent(spark, tmp_path):
    """The crash window: spans write succeeds, total commit doesn't. The
    retry must REPLACE the orphaned batch subdir, not append a second
    copy of the same spans at the same offsets."""
    import os
    from graflo_spark.ops.packing import PackingStore

    full = _docs(spark, n=120)
    store = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    b1 = full.filter(F.col("doc_id") < 60)
    b2 = full.filter(F.col("doc_id") >= 60)
    store.pack_batch(b1)
    # simulate the crash: write batch 2's spans but restore the OLD commit
    # file afterwards (as if the process died before os.replace)
    commit = os.path.join(str(tmp_path / "pk"), "_running_total")
    with open(commit) as fh:
        old_state = fh.read()
    store.pack_batch(b2)
    with open(commit, "w") as fh:
        fh.write(old_state)
    # between crash and retry, spans() reads only the COMMITTED window:
    # the orphaned in-flight batch dir stays invisible (review finding —
    # matches SemDedupStore.duplicate_pairs' batch < seq prune)
    crashed = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    want_b1 = {
        (r["id"], r["chunk_id"])
        for r in pack_chunks(b1, "doc_id", "n_tok", 64).collect()
    }
    assert {(r["id"], r["chunk_id"])
            for r in crashed.spans().collect()} == want_b1
    # retry of the same batch on a fresh handle
    store2 = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    store2.pack_batch(b2)
    got = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in store2.spans().collect()
    }
    want = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in pack_chunks(full, "doc_id", "n_tok", 64).collect()
    }
    assert got == want  # no duplicates, no gaps — one logical copy
    assert store2.spans().count() == pack_chunks(
        full, "doc_id", "n_tok", 64).count()
    assert store2.running_total() == full.agg(F.sum("n_tok")).first()[0]


def test_token_offsets_rejects_string_order_col(spark):
    from graflo_spark.ops.packing import token_offsets
    df = spark.createDataFrame(
        [("a", 5), ("b", 7)], "doc_id string, n_tok int")
    with pytest.raises(ValueError, match="doc_id.*must be numeric"):
        token_offsets(df, "n_tok", "doc_id")


def test_packing_store_migrates_legacy_flat_spans(spark, tmp_path):
    """Pre-idempotency stores wrote span parquet FLAT under spans/; the
    first new pack_batch must move those files into spans/batch=0/ (and
    bump the seq past 0) so partition discovery works and the legacy
    history is never overwritten."""
    import os

    from graflo_spark.ops.packing import PackingStore, pack_chunks

    full = _docs(spark, n=200)
    first = full.filter(F.col("doc_id") < 100)
    second = full.filter(F.col("doc_id") >= 100)

    root = str(tmp_path / "pk")
    legacy_spans = pack_chunks(first, "doc_id", "n_tok", 64)
    legacy_spans.write.mode("overwrite").parquet(os.path.join(root, "spans"))
    total1 = first.agg(F.sum("n_tok")).first()[0]
    with open(os.path.join(root, "_running_total"), "w") as fh:
        fh.write(f"{total1}\n")  # legacy single-integer format: no seq line

    store = PackingStore(spark, root, chunk_tokens=64)
    store.pack_batch(second)
    sdir = os.path.join(root, "spans")
    assert not any(e.endswith(".parquet") for e in os.listdir(sdir)
                   if os.path.isfile(os.path.join(sdir, e)))
    assert {"batch=0", "batch=1"} <= set(os.listdir(sdir))
    got = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in store.spans().collect()
    }
    want = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in pack_chunks(full, "doc_id", "n_tok", 64).collect()
    }
    assert got == want  # legacy history + new batch == one-shot packing
    # read-only handles migrate too (idempotent second call is a no-op)
    store2 = PackingStore(spark, root, chunk_tokens=64)
    assert store2.spans().count() == len(want)


def test_packing_store_migration_commit_before_move_crash_window(spark, tmp_path):
    """Crash-safety ordering: the bumped state file commits BEFORE the
    flat files move. Simulate the crash window — state committed at
    seq>=1 but flat files still present — and assert the retrying
    pack_batch re-triggers the move instead of overwriting batch=0."""
    import os

    from graflo_spark.ops.packing import PackingStore, pack_chunks

    full = _docs(spark, n=200)
    first = full.filter(F.col("doc_id") < 100)
    second = full.filter(F.col("doc_id") >= 100)

    root = str(tmp_path / "pk")
    pack_chunks(first, "doc_id", "n_tok", 64).write.mode(
        "overwrite").parquet(os.path.join(root, "spans"))
    total1 = first.agg(F.sum("n_tok")).first()[0]
    # the state a crash-after-commit-before-move leaves behind
    with open(os.path.join(root, "_running_total"), "w") as fh:
        fh.write(f"{total1}\n1\n")

    store = PackingStore(spark, root, chunk_tokens=64)
    store.pack_batch(second)
    got = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in store.spans().collect()
    }
    want = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in pack_chunks(full, "doc_id", "n_tok", 64).collect()
    }
    assert got == want


def test_packing_store_migration_recomputes_missing_total(spark, tmp_path):
    """Legacy flat spans with NO _running_total (crash between the legacy
    spans write and its total commit): migration must recompute the
    running total from the spans' max global tok_end so the next batch's
    offsets continue after the migrated history instead of overlapping
    it at 0."""
    import os

    from graflo_spark.ops.packing import PackingStore, pack_chunks

    full = _docs(spark, n=200)
    first = full.filter(F.col("doc_id") < 100)
    second = full.filter(F.col("doc_id") >= 100)

    root = str(tmp_path / "pk")
    pack_chunks(first, "doc_id", "n_tok", 64).write.mode(
        "overwrite").parquet(os.path.join(root, "spans"))
    # no _running_total file at all

    store = PackingStore(spark, root, chunk_tokens=64)
    store.pack_batch(second)
    total1 = int(first.agg(F.sum("n_tok")).first()[0])
    total2 = int(full.agg(F.sum("n_tok")).first()[0])
    assert store.running_total() == total2
    got = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in store.spans().collect()
    }
    want = {
        (r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
        for r in pack_chunks(full, "doc_id", "n_tok", 64).collect()
    }
    assert got == want
    assert total1 > 0  # sanity: the recomputed base was non-trivial


# ---------------------------------------------- sliding RAG chunker (r9)

def test_sliding_chunks_coverage_and_overlap(spark):
    from graflo_spark.ops.packing import sliding_chunks

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    out = sorted(sliding_chunks(df, chunk_tokens=4, stride=2).collect(),
                 key=lambda r: r.chunk_id)
    # starts 0,2,4,6: ceil(max(10-2,1)/2) = 4 windows
    assert [r.chunk_id for r in out] == [0, 1, 2, 3]
    assert all(r.n_chunks == 4 for r in out)
    assert out[0].chunk_text == "w0 w1 w2 w3"
    assert out[1].chunk_text == "w2 w3 w4 w5"      # 2-token overlap
    assert out[3].chunk_text == "w6 w7 w8 w9"
    # every token appears in some window
    covered = {w for r in out for w in r.chunk_text.split()}
    assert covered == set(text.split())


def test_sliding_chunks_defaults_edges_and_validation(spark):
    import pytest

    from graflo_spark.ops.packing import sliding_chunks

    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "x"), (2, None), (3, "   ")],
        "doc_id long, text string")
    # default stride == chunk_tokens: disjoint windows, remainder last
    out = {(r.doc_id, r.chunk_id): r for r in sliding_chunks(
        df, chunk_tokens=2).collect()}
    assert out[(0, 0)].chunk_text == "a b"
    assert out[(0, 2)].chunk_text == "e"
    assert out[(0, 2)].n_chunk_tokens == 1
    assert out[(1, 0)].chunk_text == "x"
    # NULL and blank texts emit nothing
    assert {d for d, _ in out} == {0, 1}
    with pytest.raises(ValueError):
        sliding_chunks(df, chunk_tokens=0)
    with pytest.raises(ValueError):
        sliding_chunks(df, chunk_tokens=4, stride=5)
    with pytest.raises(ValueError):
        sliding_chunks(df, chunk_tokens=4, stride=0)


def test_rag_chunk_embed_pool_search_composes(spark, sf_dir):
    """The RAG pipeline the r9 pieces were built for, end to end:
    sliding_chunks -> per-chunk embeddings (deterministic hash stand-in
    for the model call) -> mean_pool_embeddings back to doc level ->
    cosine top-k over the pooled vectors. Pooled doc embeddings must
    equal a direct numpy mean over that doc's chunk embeddings, and
    n_members must equal the chunker's own n_chunks."""
    import numpy as np

    from graflo_spark.ops.packing import sliding_chunks
    from graflo_spark.ops.simsearch import (
        brute_force_topk, mean_pool_embeddings)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").limit(200)
    chunks = sliding_chunks(docs, "doc_id", "text",
                            chunk_tokens=32, stride=16)
    d = 8
    emb = chunks.withColumn(
        "embedding",
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda i: F.pmod(F.xxhash64(F.col("chunk_text"), i),
                             F.lit(1000)).cast("double") / 1000.0,
        ))
    pooled = mean_pool_embeddings(emb, "doc_id")

    ref = {}
    for r in emb.select("doc_id", "embedding").collect():
        ref.setdefault(r.doc_id, []).append(r.embedding)
    got = {r.doc_id: r for r in pooled.collect()}
    assert set(got) == set(ref)
    for doc, vecs in ref.items():
        assert np.allclose(got[doc].embedding,
                           np.mean(np.asarray(vecs), axis=0), atol=1e-12)
        assert got[doc].n_members == len(vecs)
    n_chunks = {r.doc_id: r.n_chunks for r in chunks.select(
        "doc_id", "n_chunks").distinct().collect()}
    assert all(got[doc].n_members == n_chunks[doc] for doc in got)

    hits = brute_force_topk(
        pooled.filter(F.col("doc_id") < 3), pooled, k=5,
        query_id="doc_id", corpus_id="doc_id").collect()
    assert {r.query_id for r in hits} == {0, 1, 2}
    by_q = {}
    for r in hits:
        by_q.setdefault(r.query_id, []).append(r)
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        assert r.neighbor_id != r.query_id
    assert all(sorted(x.rank for x in v) == [1, 2, 3, 4, 5]
               for v in by_q.values())


def test_packing_store_compact_folds_and_preserves(spark, tmp_path):
    """compact() folds committed span dirs size-tiered (full=True folds
    all but the last committed dir), spans() and the running total are
    unchanged, and the NEXT batch still continues the stream."""
    import glob

    from graflo_spark.ops.packing import PackingStore

    full = _docs(spark, n=300)
    store = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    for lo in range(0, 250, 50):
        store.pack_batch(full.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 50)))
    before = sorted(map(tuple, store.spans().collect()))
    total = store.running_total()
    root = f"{store.path}/spans"
    assert len(glob.glob(f"{root}/batch=*")) == 5
    store.compact(full=True)
    vals = sorted(int(d.rsplit("=", 1)[1])
                  for d in glob.glob(f"{root}/batch=*"))
    assert vals == [0, 4]             # folded + preserved replay window
    assert sorted(map(tuple, store.spans().collect())) == before
    assert store.running_total() == total
    # the stream continues exactly where it stopped
    store.pack_batch(full.filter(
        (F.col("doc_id") >= 250) & (F.col("doc_id") < 300)))
    got = {(r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
           for r in store.spans().collect()}
    want = {(r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
            for r in pack_chunks(full, "doc_id", "n_tok", 64).collect()}
    assert got == want


def test_packing_store_compact_tiered_skips_big_tier(spark, tmp_path):
    """Size-tiered fold: the consolidated dir (250 docs) is a bigger byte
    tier than the 5-doc dirs — it enters the new root as hardlinks while
    only the small ready tier folds."""
    import glob
    import os

    from graflo_spark.ops.packing import PackingStore

    full = _docs(spark, n=300)
    store = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    store.pack_batch(full.filter(F.col("doc_id") < 250))
    for lo in range(250, 275, 5):
        store.pack_batch(full.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 5)))
    before = sorted(map(tuple, store.spans().collect()))
    root = f"{store.path}/spans"
    big_inos = {f: os.stat(f).st_ino
                for f in glob.glob(f"{root}/batch=0/*.parquet")}
    assert big_inos
    store.compact(min_run=4)
    for f, ino in big_inos.items():
        assert os.stat(f).st_ino == ino   # big tier not rewritten
    assert len(glob.glob(f"{root}/batch=*")) < 6
    assert sorted(map(tuple, store.spans().collect())) == before


def test_packing_store_compact_crash_window_restores(spark, tmp_path):
    """Death between compact()'s two renames leaves the store only under
    .old-spans-*; the next access — read OR pack — restores it."""
    import glob
    import os

    from graflo_spark.ops.packing import PackingStore

    full = _docs(spark, n=200)
    store = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    for lo in range(0, 150, 50):
        store.pack_batch(full.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 50)))
    before = sorted(map(tuple, store.spans().collect()))
    os.rename(f"{store.path}/spans", f"{store.path}/.old-spans-deadbeef")
    assert sorted(map(tuple, store.spans().collect())) == before
    assert glob.glob(f"{store.path}/spans/batch=*")
    assert not glob.glob(f"{store.path}/.old-spans-*")
    # the write path restores too
    os.rename(f"{store.path}/spans", f"{store.path}/.old-spans-crash2")
    store.pack_batch(full.filter(
        (F.col("doc_id") >= 150) & (F.col("doc_id") < 200)))
    want = {(r["id"], r["chunk_id"]) for r in pack_chunks(
        full, "doc_id", "n_tok", 64).collect()}
    assert {(r["id"], r["chunk_id"])
            for r in store.spans().collect()} == want


def test_packing_store_post_commit_replay_same_batch_id(spark, tmp_path):
    """A batch REDELIVERED after its commit (repeated batch_id) re-runs
    under its original seq and base offset: identical spans, unchanged
    running total, no double-packed chunks."""
    import glob

    from graflo_spark.ops.packing import PackingStore

    full = _docs(spark, n=300)
    store = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    for i, (lo, hi) in enumerate(((0, 100), (100, 200), (200, 300))):
        store.pack_batch(full.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), batch_id=i)
    before = sorted(map(tuple, store.spans().collect()))
    total = store.running_total()
    n_dirs = len(glob.glob(f"{store.path}/spans/batch=*"))
    # replay the LAST committed batch
    replayed = store.pack_batch(
        full.filter(F.col("doc_id") >= 200), batch_id=2)
    assert store._state()[1] == 3                # seq did not move
    assert store.running_total() == total        # total did not move
    assert len(glob.glob(f"{store.path}/spans/batch=*")) == n_dirs
    assert sorted(map(tuple, store.spans().collect())) == before
    # the replayed frame equals the batch's original spans
    orig = {(r["id"], r["chunk_id"]) for r in store.spans().collect()
            if r["id"] >= 200}
    assert {(r["id"], r["chunk_id"])
            for r in replayed.collect()} == orig
    # ... and the whole stream still equals one-shot packing
    want = {(r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
            for r in pack_chunks(full, "doc_id", "n_tok", 64).collect()}
    got = {(r["id"], r["chunk_id"]): (r["doc_tok_start"], r["doc_tok_end"])
           for r in store.spans().collect()}
    assert got == want
    with pytest.raises(ValueError, match="newline"):
        store.pack_batch(full.limit(1), batch_id="a\nb")


def test_stream_pack_end_to_end(spark, tmp_path):
    from graflo_spark.ops.packing import PackingStore
    from graflo_spark.streaming import replay_as_stream, stream_pack

    full = _docs(spark, n=300).filter(F.col("n_tok") > 0)
    store = PackingStore(spark, str(tmp_path / "pk"), chunk_tokens=64)
    out_dir = str(tmp_path / "feed")
    q = stream_pack(
        replay_as_stream(spark, full.repartition(3)), store,
        str(tmp_path / "ckpt"), output_dir=out_dir)
    q.processAllAvailable()
    q.stop()
    # arrival order is the stream contract; verify structural invariants
    # + the live feed mirrors the persisted spans
    spans = store.spans().collect()
    assert {r["id"] for r in spans} == {
        r["doc_id"] for r in full.collect()}
    feed = spark.read.parquet(out_dir)
    assert sorted(map(tuple, feed.collect())) == sorted(
        map(tuple, spans))
    # offsets form one contiguous global stream
    ordered = sorted({(r["tok_start"], r["tok_end"]) for r in spans})
    pos = 0
    for s, e in ordered:
        assert s == pos and e > s
        pos = e
    assert pos == store.running_total()
