"""Synthetic scale harness: prove headliner scaling beyond the largest
shipped testdata (sf0.1).

No sf>=0.1 parquet exists in the container, so this tool *generates* a
deterministic ~Nx blow-up of sf0.1 into a temp dir (default /tmp) and runs
selected headline queries at BOTH scales, reporting wall times and the
observed scaling exponent  e = log(t_Nx / t_1x) / log(N)  — e ~= 1 is
linear; anything clearly super-linear at fixed local resources means a plan
that would not survive a real scale-up.

Blow-up design (FK-consistent, dedup-structure-preserving):
- Star tables (customer/supplier/part/orders/lineitem) are replicated
  ``factor`` times with per-replica key offsets of stride = max(key)+1,
  applied consistently on both sides of every FK — so the graph build
  produces exactly factor x the vertices/edges per type.
- region/nation are dimensions: copied once (a 10x fact blow-up does not
  multiply dims; this matches how a real corpus grows).
- documents: replicated with doc_id offsets; replica r>0 text goes through
  a replica-specific alphabet rotation (bijective ``translate``). A
  bijective char map is a bijection on char shingles, so every intra-replica
  Jaccard similarity is preserved EXACTLY, while cross-replica shingle
  overlap drops to ~0 — duplicate GROUPS scale linearly instead of
  quadratically, which keeps the scaling measurement honest. (A weaker
  token-insertion salt was tried first and left cross-replica Jaccard ~0.5,
  inside the LSH candidate zone — the blow-up manufactured 45x the
  candidate pairs and ~10-replica mega-clusters.)

``--hot-group`` additionally rewrites 20% of the scaled documents to ONE
identical boilerplate text — the adversarial corpus shape for LSH dedup
(every member collides in every band). With the exact-duplicate collapse in
``minhash_dedup`` this must stay ~flat vs the clean 10x run instead of
exploding quadratically.

``--incremental`` additionally streams the scaled documents table through a
fresh ``MinHashDedupStore`` one replica-batch at a time (the shape of a
daily-crawl ingest). The replica construction makes the expected outcome
checkable: within-batch greedy equals per-replica one-shot dedup and no
cross-replica pair should verify, so total survivors should equal factor x
the base survivor count — an end-to-end consistency check at scale, plus a
wall-clock and per-batch cost measurement. Two documented caveats make this
corpus-dependent rather than mathematically exact: (1) rotation preserves
true Jaccard but re-rolls the hash realization, so a base pair sitting
within ~2 sigma (est stddev ~0.06 at 64 perms) of the 0.7 threshold can
flip per replica; (2) texts with no letters or digits are
rotation-invariant and become true cross-replica duplicates. The shipped
sf0.1 corpus has neither, so `survivors_match: false` there is a real
dedup-store bug signal; on other corpora check those preconditions first.

``--store`` additionally benchmarks the GraphStore WRITE path (the
hash-bucketed ``_merge_commit`` upsert) at both scales: fresh ingest,
idempotent re-upsert (merge against every existing bucket), a fixed
10-key patch upsert reporting bucket-rewrite amplification (rows
rewritten / patch rows; with buckets sized to the data — the production
rule — rewritten rows stay FLAT across scales: the O(batch) claim,
measured), an edge insert over the same protocol, and an ADVERSARIAL
table whose identities all hash into ONE bucket (worst-case skew: every
patch rewrites the whole table; the measured amplification quantifies
exactly how bad).

``--graph`` runs the graph-analytics catalog (trade + co-purchase) at both
scales back-to-back in ONE session — itself part of the proof: per-round
checkpoint blocks must be reclaimed, not accumulate into the GCLocker
wedge. Adds a CAPPED link-prediction entry (max_degree=LINKPRED_CAP, the
production web-scale knob); the exact/uncapped registered row — heap-bound
at 20x on one box by design — is included only with --uncapped-linkpred.

``--hub`` (no blow-up needed) measures link prediction on the celebrity-hub
graph: one node adjacent to everything. Uncapped walls at n and 2n show the
quadratic (e~2) fan-out; the capped run must stay linear and complete in
the default heap at n = 10_000 x factor.

``--power-law`` (no blow-up needed) generates Zipfian-degree edge lists
(Pareto inverse-CDF endpoints, s=2) whose hub degrees GROW with edge count
— the skew shape the replica blow-up deliberately avoids — and reports
exponents for triangles / LPA / k-core / capped link prediction.

Usage:
    python3 tools/scale_bench.py [factor] [out_root] [--hot-group]
        [--incremental] [--store] [--temporal-skew] [--winnow] [--pipeline]
        [--graph] [--hub] [--power-law] [--uncapped-linkpred]
        [--only <substr>]   # restrict --graph or the default sweep to
                            # matching queries
        [--substring]       # --pipeline: enable the k=8 exact
                            # repeated-substring scrub (spans+cut+repack)
        [--compact-every K] # --lines --incremental: LineDedupStore
                            # compaction cadence (bounded-file measurement)
        [--lexidx]          # LexicalIndexStore (positional) one replica-
                            # batch at a time: flat walls, bounded dirs
                            # (honors --compact-every), final bm25+phrase
                            # probe parity vs a one-shot corpus scan
        [--ivfs]            # IvfIndexStore one replica-batch at a time:
                            # flat ingest AND compact walls (size-tiered
                            # folds; honors --compact-every), bounded
                            # dirs, final pruned-probe parity vs one-shot
                            # assignment to the same frozen centroids
        [--semstore]        # SemDedupStore one replica-batch at a time:
                            # per-batch dedup-vs-history walls (grow with
                            # history/cells BY SEMANTICS — recorded
                            # honestly), pair-dir bounds, end clusters()
                            # parity vs one-shot semantic_dedup
        [--subsplit N]      # --semstore: slice each replica into N
                            # sub-batches (history grows to factor*N x
                            # batch — the history-term measurement)
        [--drift]           # IvfIndexStore recall under distribution
                            # drift: sign-flip the stream halfway,
                            # pruned-probe recall@k vs brute force
                            # before/after refit()
        [--vocab]           # vocabulary growth + the AQE-chosen join
                            # strategy for the de-broadcast collocations
                            # unigram join-backs, base vs scaled
        [--gopher]          # A/B the Gopher gate HOF vs exploded codegen
                            # formulations + lang_id exponent
        [--gates]           # --pipeline with EVERY optional stage on
                            # (gopher+lang+lm+clf+line scrub+substring)
        [--semdedup]        # SemDeDup cells->pairs->CC exponent with the
                            # production n_clusters ~ corpus sizing
Prints one JSON line:
    {"metric": "scale_exponents", "factor": N, "queries": {name:
      {"t_base": s, "t_scaled": s, "exponent": e, "rows_base": n,
       "rows_scaled": n}}}
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

BASE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SCALE_QUERIES = [
    "graph_type_counts",
    "minhash_dedup_documents",
    "near_dup_clusters_documents",
    # r4 additions: the two new shuffle-bearing training-pipeline ops —
    # decontamination (broadcast gram join) and sequence packing (two-phase
    # distributed prefix sum + chunk fan-out) — plus the ANN family over the
    # sign-flip-rotated embeddings blow-up
    "decontam_overlap_documents",
    "pack_chunks_documents",
    "ann_topk_embeddings",
    # temporal join family over the time-shifted events blow-up
    "temporal_ops_events",
    # winnowing fingerprints + MOSS substring-overlap pairs: the alphabet
    # rotation is a bijection on char 7-grams, so cross-replica
    # fingerprints are disjoint and the pair join scales replica-locally
    "winnowing_fingerprints_documents",
    # r9 lexical retrieval: the rotation bijection keeps each query term
    # matching only its own rotation's replicas, so the scored set stays
    # base-sized while the tokenize/prefilter scan grows with the corpus —
    # the honest 100 TB shape (scan-bound, match-bounded)
    "bm25_topk_documents",
    # r9 vocabulary report: term/bigram groupBys over a vocabulary the
    # rotation blow-up multiplies 26-fold at most (still tiny); the
    # explode volume grows with the corpus
    "vocab_stats_documents",
    # r9 RAG chunker: pure map fan-out — output rows scale exactly with
    # the corpus, wall with the single scan
    "sliding_chunks_documents",
    # r9 phrase search: positional postings + intersection; like bm25 the
    # match set is rotation-bounded while the scan grows with the corpus
    "phrase_topk_documents",
]

# (table, [key cols offset by own stride], {col: stride-source table})
STAR_FACTS = [
    ("customer", ["c_custkey"], {}),
    ("supplier", ["s_suppkey"], {}),
    ("part", ["p_partkey"], {}),
    ("orders", ["o_orderkey"], {"o_custkey": "customer"}),
    ("lineitem", [], {"l_orderkey": "orders", "l_partkey": "part",
                      "l_suppkey": "supplier"}),
]
DIMS = ["region", "nation"]
KEY_OF = {"customer": "c_custkey", "supplier": "s_suppkey",
          "part": "p_partkey", "orders": "o_orderkey"}


def generate(spark, base_dir: str, out_dir: str, factor: int,
             hot_group: bool = False) -> None:
    os.makedirs(out_dir, exist_ok=True)
    strides: dict[str, int] = {}
    for t, key in KEY_OF.items():
        df = spark.read.parquet(f"{base_dir}/{t}.parquet")
        strides[t] = int(df.agg(F.max(key)).first()[0]) + 1

    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__r")

    for t in DIMS:
        spark.read.parquet(f"{base_dir}/{t}.parquet").write.mode(
            "overwrite").parquet(f"{out_dir}/{t}.parquet")

    for t, own_keys, fks in STAR_FACTS:
        df = spark.read.parquet(f"{base_dir}/{t}.parquet").select("*", reps)
        for k in own_keys:
            df = df.withColumn(
                k, F.col(k) + F.col("__r") * F.lit(strides[t]))
        for col, src in fks.items():
            df = df.withColumn(
                col, F.col(col) + F.col("__r") * F.lit(strides[src]))
        df.drop("__r").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet")

    if factor > 26:
        raise ValueError("alphabet rotation supports factor <= 26")
    docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    stride_d = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    import string

    # rotate digits too: a letters-only rotation leaves digit/punctuation
    # texts identical across replicas — exact cross-replica duplicates that
    # would break the replica-isolation premise. Plain rotation has only 10
    # distinct states, so at factor >= 11 digit-ONLY texts would collide
    # (r=1 vs r=11); composing rotation with a per-decade family (identity /
    # reversal / adjacent-pair swap) yields 30 distinct digit bijections —
    # enough for the factor <= 26 the letter rotation already enforces.
    lo, up, dg = string.ascii_lowercase, string.ascii_uppercase, string.digits

    def digit_map(r: int) -> str:
        base = dg[r % 10:] + dg[: r % 10]
        fam = r // 10
        if fam == 1:
            return base[::-1]
        if fam == 2:
            return "".join(base[i ^ 1] for i in range(10))
        return base

    rotated = F.when(F.col("__r") == 0, F.col("text"))
    for r in range(1, factor):
        rotated = rotated.when(
            F.col("__r") == r,
            F.translate(F.col("text"), lo + up + dg,
                        lo[r:] + lo[:r] + up[r:] + up[:r] + digit_map(r)))
    blown = (
        docs.select("*", reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("__r") * F.lit(stride_d))
        .withColumn("text", rotated)
        .drop("__r")
    )
    if hot_group:
        # adversarial shape: 20% of all docs become ONE identical text
        boiler = ("cookie notice please accept our terms and conditions to "
                  "continue to the requested page thank you for visiting")
        blown = blown.withColumn(
            "text",
            F.when(F.col("doc_id") % 5 == 0, F.lit(boiler)).otherwise(
                F.col("text")))
    blown.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    # embeddings: replicated with a per-replica SIGN-FLIP rotation — an
    # orthogonal transform (each dim multiplied by a deterministic ±1
    # pattern keyed on replica), so intra-replica geometry (all dot
    # products and norms) is preserved EXACTLY while cross-replica cosines
    # decorrelate: neighbor structure scales linearly, the same premise the
    # alphabet rotation gives the text corpus.
    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    stride_e = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    flipped = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(
            F.pmod(F.xxhash64(F.col("__r"), i), F.lit(2)) == 0, x
        ).otherwise(-x),
    )
    emb.select("*", reps).withColumn(
        "vec_id", F.col("vec_id") + F.col("__r") * F.lit(stride_e)
    ).withColumn(
        "embedding",
        F.when(F.col("__r") == 0, F.col("embedding")).otherwise(flipped),
    ).drop("__r").write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet")

    # events: replicated with (a) id offsets, (b) a per-replica event_type
    # suffix (disjoint key spaces: keys scale with the data, so the asof
    # window and range join gain parallelism instead of bottlenecking on 5
    # global keys), and (c) disjoint per-replica time ranges (replica r
    # shifted by r * (span + 1 day)). Within a replica, asof matches and
    # range containments are the base table's verbatim, so THOSE outputs
    # scale exactly linearly by construction (the events analogue of the
    # text corpus's alphabet rotation); absolute-calendar filters (e.g.
    # temporal_ops_events' window_filter arm) only ever see replica 0 and
    # stay CONSTANT — the harness test pins both behaviors. ts arrives as
    # epoch-ns LONG under the session's nanosAsLong; io.to_event_time
    # dispatches on read. The suffix separator is chr(31) (the repo's
    # composite-key convention): a plain '_' could collide a replica of
    # 'click' with a base type literally named 'click_1'.
    src = f"{base_dir}/events.parquet"
    ev = spark.read.parquet(src) if os.path.exists(src) else None
    if ev is not None and ev.head(1):
        stride_v = int(ev.agg(F.max("event_id")).first()[0]) + 1
        lo_ts, hi_ts = ev.agg(F.min("ts"), F.max("ts")).first()
        if dict(ev.dtypes)["ts"] == "bigint":  # epoch-ns under nanosAsLong
            span_ns = int(hi_ts) - int(lo_ts) + 86400 * 10**9
            shifted = F.col("ts") + F.col("__r").cast("long") * F.lit(span_ns)
        else:  # TIMESTAMP/NTZ (sessions without the nanos flag)
            span_s = (hi_ts - lo_ts).total_seconds() + 86400.0
            shifted = F.col("ts") + F.expr(
                f"make_dt_interval(0, 0, 0, __r * CAST({span_s} AS DOUBLE))")
        (
            ev.select("*", reps)
            .withColumn(
                "event_id",
                F.col("event_id") + F.col("__r") * F.lit(stride_v))
            .withColumn("ts", shifted)
            .withColumn(
                "event_type",
                F.when(F.col("__r") == 0, F.col("event_type")).otherwise(
                    F.concat_ws(chr(31), F.col("event_type"),
                                F.col("__r").cast("string"))))
            .drop("__r")
            .write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
        )
    elif ev is not None:  # zero-row events table: copy through unchanged
        ev.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    # completion marker, written LAST: a crashed partial generation must be
    # regenerated, not silently benchmarked
    open(os.path.join(out_dir, "_GENERATED"), "w").close()


def store_bench(spark, src_dir: str, tag: str, n_buckets: int = 64,
                adversarial_buckets: int = 64) -> dict:
    """Measure the GraphStore write path over ``<src_dir>/customer.parquet``
    (+ an orders-derived edge table): fresh ingest, idempotent re-upsert,
    a FIXED-10-key patch upsert with measured bucket-rewrite amplification
    (pass ``n_buckets`` scaled with the data — the production sizing rule —
    and rewritten_rows stays FLAT across scales: the O(batch) claim,
    measured), edge insert, and the adversarial all-rows-one-bucket
    identity (always at ``adversarial_buckets`` — worst-case skew is about
    collision, not sizing). Returns wall times and invariant checks;
    caller computes exponents."""
    import shutil
    import tempfile

    from graflo_spark.manifest import CoreSchema, EdgeId, Field, Vertex
    from graflo_spark.store import GraphStore

    pc = time.perf_counter
    cust = spark.read.parquet(f"{src_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey")
    n_rows = cust.count()
    out: dict = {"rows": n_rows}
    schema = CoreSchema(
        vertices=[Vertex("customer", [Field(c) for c in cust.columns],
                         identity=["c_custkey"])],
        edges=[],
    )
    root = tempfile.mkdtemp(prefix=f"graflo_store_bench_{tag}_")
    try:
        st = GraphStore(spark, root, schema, n_buckets=n_buckets)
        st.apply_target_schema()
        t0 = pc(); st.upsert_vertices("customer", cust)
        out["t_ingest"] = round(pc() - t0, 3)
        t0 = pc(); st.upsert_vertices("customer", cust)
        out["t_reupsert"] = round(pc() - t0, 3)
        out["idempotent"] = st.read_vertices("customer").count() == n_rows

        # fixed-10-key patch: rewrite amplification = rows living in the
        # buckets the patch touched (== rows this commit rewrote) / patch
        # rows. Ten keys touch <= 10 buckets whatever the table size, so
        # with production bucket sizing rewritten_rows is scale-invariant.
        patch = cust.orderBy("c_custkey").limit(10).withColumn(
            "c_name", F.lit("patched"))
        p_rows = patch.count()
        tdir = st._table_dir("vertices", "customer")
        _v, m_before = st._current_manifest(tdir)
        t0 = pc(); st.upsert_vertices("customer", patch)
        out["t_patch"] = round(pc() - t0, 3)
        _v2, m_after = st._current_manifest(tdir)
        changed = [os.path.join(tdir, rel) for b, rel in m_after.items()
                   if m_before.get(b) != rel]
        rewritten = (spark.read.parquet(*changed).count() if changed else 0)
        out["patch_rows"] = p_rows
        out["rewritten_rows"] = rewritten
        out["amplification"] = round(rewritten / max(p_rows, 1), 2)
        out["patch_kept_total"] = (
            st.read_vertices("customer").count() == n_rows)

        # edge path: same _merge_commit protocol, edge merge semantics
        orders = spark.read.parquet(f"{src_dir}/orders.parquet").select(
            F.col("o_orderkey").alias("_src_o_orderkey"),
            F.col("o_custkey").alias("_dst_c_custkey"))
        eid = EdgeId("order", "customer", "placed_by")
        t0 = pc(); st.insert_edges(eid, orders)
        out["t_edge_ingest"] = round(pc() - t0, 3)
        t0 = pc(); st.insert_edges(eid, orders)
        out["t_edge_reinsert"] = round(pc() - t0, 3)
        out["edges"] = st.read_edges(eid).count()
        out["edge_idempotent"] = out["edges"] == orders.distinct().count()
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # adversarial: distinct identities engineered to hash into ONE bucket
    # (pmod(xxhash64(id), n) == 0) — every upsert rewrites the whole table
    hot_ids = (
        spark.range(0, n_rows * adversarial_buckets * 2)
        .filter(
            F.pmod(F.xxhash64(F.col("id")), F.lit(adversarial_buckets)) == 0)
        .limit(n_rows)
        .select(F.col("id").alias("c_custkey"),
                F.lit("hot").alias("c_name"))
    ).localCheckpoint(eager=True)
    n_hot = hot_ids.count()
    hschema = CoreSchema(
        vertices=[Vertex("customer", [Field("c_custkey"), Field("c_name")],
                         identity=["c_custkey"])],
        edges=[],
    )
    hroot = tempfile.mkdtemp(prefix=f"graflo_store_hot_{tag}_")
    try:
        hst = GraphStore(spark, hroot, hschema, n_buckets=adversarial_buckets)
        hst.apply_target_schema()
        t0 = pc(); hst.upsert_vertices("customer", hot_ids)
        t_hot_ingest = round(pc() - t0, 3)
        hpatch = hot_ids.limit(max(n_hot // 100, 1)).withColumn(
            "c_name", F.lit("patched"))
        hp_rows = hpatch.count()
        htdir = hst._table_dir("vertices", "customer")
        _v, hm_before = hst._current_manifest(htdir)
        t0 = pc(); hst.upsert_vertices("customer", hpatch)
        t_hot_patch = round(pc() - t0, 3)
        _v2, hm_after = hst._current_manifest(htdir)
        hchanged = [os.path.join(htdir, rel) for b, rel in hm_after.items()
                    if hm_before.get(b) != rel]
        h_rewritten = (spark.read.parquet(*hchanged).count()
                       if hchanged else 0)
        out["adversarial"] = {
            "rows": n_hot,
            "t_ingest": t_hot_ingest,
            "t_patch": t_hot_patch,
            "patch_rows": hp_rows,
            "rewritten_rows": h_rewritten,
            "amplification": round(h_rewritten / max(hp_rows, 1), 2),
            "kept_total": hst.read_vertices("customer").count() == n_hot,
        }
    finally:
        shutil.rmtree(hroot, ignore_errors=True)
    return out


def temporal_skew_bench(spark, base_dir: str, scaled_dir: str,
                        factor: int) -> dict:
    """Fixed-key temporal join scaling. The standard events blow-up gives
    every replica its own event_type suffix — keys scale with the data,
    which sidesteps the skew question. Here the suffix is stripped back
    off, restoring the ORIGINAL key cardinality at factor x the rows (the
    worst case for a per-key window: each key's partition grows by the
    full factor), and the as-of join is measured BOTH plain and
    chunk_width-hardened, plus the binned range join. The chunked
    exponent staying near the plain small-key exponent is the evidence
    the two-level formulation removes the bottleneck."""
    from graflo_spark.ops.temporal import asof_join, binned_range_join

    pc = time.perf_counter

    def load_events(d: str):
        ev = spark.read.parquet(f"{d}/events.parquet")
        tss = (F.col("ts").cast("double") / F.lit(1e9)
               if dict(ev.dtypes)["ts"] == "bigint"
               # TIMESTAMP/NTZ won't cast straight to double; go via epoch
               else F.unix_timestamp("ts").cast("double"))
        return ev.select(
            "event_id",
            # strip the per-replica suffix -> original key cardinality
            F.substring_index("event_type", chr(31), 1).alias("event_type"),
            tss.alias("tss"),
            "value",
        )

    out: dict = {}
    for label, d in (("base", base_dir), ("scaled", scaled_dir)):
        ev = load_events(d).localCheckpoint(eager=True)
        markers = ev.filter(F.col("value") > 150).select(
            "event_type", F.col("tss").alias("mts"),
            F.col("value").alias("mv"))
        res: dict = {"keys": ev.select("event_type").distinct().count(),
                     "rows": ev.count()}
        for name, fn in (
            ("asof_plain", lambda: asof_join(
                ev, markers, "event_type", "tss", "mts")),
            ("asof_chunked", lambda: asof_join(
                ev, markers, "event_type", "tss", "mts",
                chunk_width=86400.0)),
            ("range", lambda: binned_range_join(
                ev, markers.withColumn("mend", F.col("mts") + 3600.0),
                "event_type", "tss", "mts", "mend", bin_width=3600.0)),
        ):
            t0 = pc()
            n = fn().count()
            res[f"t_{name}"] = round(pc() - t0, 3)
            res[f"rows_{name}"] = n
        out[label] = res
    out["exponents"] = {
        k: (round(math.log(out["scaled"][f"t_{k}"] / out["base"][f"t_{k}"])
                  / math.log(factor), 3)
            if out["base"].get(f"t_{k}") and out["scaled"].get(f"t_{k}")
            and factor > 1 else None)
        for k in ("asof_plain", "asof_chunked", "range")
    }
    return out


def winnow_bench(spark, base_dir: str, scaled_dir: str, factor: int) -> dict:
    """Winnowing fingerprint scaling on the md5 gram hash (the one DuckDB
    reproduces). Times the fingerprint projection and the full
    substring-overlap pair join (max_df-capped) at both scales."""
    from graflo_spark.ops.dedup import substring_overlap_pairs
    from graflo_spark.ops.textstats import winnowing_fingerprints

    pc = time.perf_counter
    out: dict = {}
    for label, d in (("base", base_dir), ("scaled", scaled_dir)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        res: dict = {"rows": docs.count()}
        t0 = pc()
        res["fps"] = winnowing_fingerprints(docs, "doc_id", "text").count()
        res["t_fp"] = round(pc() - t0, 3)
        t0 = pc()
        res["pairs"] = substring_overlap_pairs(
            docs, "doc_id", "text", min_shared=10, max_df=50).count()
        res["t_pairs"] = round(pc() - t0, 3)
        out[label] = res
    out["exponents"] = {
        k: (round(math.log(out["scaled"][k] / out["base"][k])
                  / math.log(factor), 3)
            if out["base"].get(k) and out["scaled"].get(k) and factor > 1
            else None)
        for k in ("t_fp", "t_pairs")
    }
    return out


def lines_incremental_bench(spark, base_dir: str, scaled_dir: str,
                            factor: int, out_root: str,
                            compact_every: int | None = None) -> dict:
    """LineDedupStore over the scaled corpus one replica-batch at a time
    (the daily-crawl shape): per-batch walls must stay ~flat as history
    grows (the anti-join side is the store's DISTINCT line set — bounded
    by distinct lines, not stream length), and because the blow-up
    rotation makes duplicate-line structure replica-local, the total
    scrubbed-line count must equal factor x the single-batch base count.

    ``compact_every=K`` runs ``store.compact()`` after every K batches
    (the between-batches single-writer window) and records per-batch
    hash-dir/file counts — the r8-verdict measurement: walls flat AND
    file counts bounded, instead of one ``batch=<k>`` dir per batch
    forever."""
    import glob
    import shutil
    import uuid

    from graflo_spark.ops.dedup import LineDedupStore, reflow_lines

    pc = time.perf_counter

    def store_files(store_dir: str) -> tuple[int, int]:
        dirs = glob.glob(f"{store_dir}/lines/batch=*")
        files = [f for d in dirs for f in os.listdir(d)
                 if f.endswith(".parquet")]
        return len(dirs), len(files)
    base = spark.read.parquet(f"{base_dir}/documents.parquet")
    max_id = base.agg(F.max("doc_id")).first()[0]
    if max_id is None:
        raise ValueError(f"{base_dir}/documents.parquet is empty")
    stride = max_id + 1
    scaled = spark.read.parquet(f"{scaled_dir}/documents.parquet")

    store_dir = os.path.join(out_root, f"line_store_{uuid.uuid4().hex[:8]}")
    st = LineDedupStore(spark, store_dir)

    def n_lines_of(df):
        return df.filter("text IS NOT NULL AND text != ''").select(
            F.size(F.split("text", "\n", -1)).alias("n")).agg(
            F.sum("n")).first()[0] or 0

    out: dict = {"batches": []}
    total_in = total_out = 0
    try:
        for r in range(factor):
            # the SAME reflow the driver row stages through — a drifted
            # copy here would break the cut-count invariant silently
            batch = reflow_lines(scaled.filter(
                (F.col("doc_id") >= r * stride)
                & (F.col("doc_id") < (r + 1) * stride)))
            n_in = n_lines_of(batch)
            t0 = pc()
            scrubbed = st.scrub_batch(batch, batch_id=r)
            n_out = n_lines_of(scrubbed)
            wall = round(pc() - t0, 3)
            n_dirs, n_files = store_files(store_dir)
            entry = {"wall": wall, "cut": int(n_in - n_out),
                     "hash_dirs": n_dirs, "hash_files": n_files}
            if compact_every and (r + 1) % compact_every == 0:
                t0 = pc()
                st.compact()
                entry["compact_wall"] = round(pc() - t0, 3)
                entry["hash_dirs"], entry["hash_files"] = (
                    store_files(store_dir))
            out["batches"].append(entry)
            total_in += n_in
            total_out += n_out
            print(f"# lines_incremental batch {r}: {wall}s "
                  f"cut={n_in - n_out} dirs={entry['hash_dirs']} "
                  f"files={entry['hash_files']}"
                  + (f" compact={entry['compact_wall']}s"
                     if "compact_wall" in entry else ""),
                  file=sys.stderr)
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    base_cut = out["batches"][0]["cut"]
    out["total_cut"] = int(total_in - total_out)
    out["cut_match"] = out["total_cut"] == factor * base_cut
    walls = [b["wall"] for b in out["batches"]]
    out["wall_first"], out["wall_last"] = walls[0], walls[-1]
    out["wall_ratio_last_first"] = (
        round(walls[-1] / walls[0], 3) if walls[0] else None)
    return out


def lexidx_incremental_bench(spark, base_dir: str, scaled_dir: str,
                             factor: int, out_root: str,
                             compact_every: int | None = None,
                             compact_min_run: int = 4) -> dict:
    """LexicalIndexStore (POSITIONAL) over the scaled corpus one
    replica-batch at a time — the streaming-index counterpart of
    lines_incremental_bench, the r9-verdict Next #6 measurement: per-batch
    ingest walls must stay ~flat as the indexed history grows (each batch
    tokenizes only itself; history is never rescanned), ``compact()``
    every K batches must keep the batch-dir count saw-toothing instead of
    growing, and the final incremental index must answer BOTH bm25 and
    phrase probes identically to a one-shot scan of the full scaled
    corpus (the incremental==one-shot contract, verified at scale)."""
    import glob
    import shutil
    import uuid

    from graflo_spark.ops import retrieval as rt

    pc = time.perf_counter

    def store_files(sd: str) -> tuple[int, int]:
        dirs = glob.glob(f"{sd}/postings/batch=*")
        files = glob.glob(f"{sd}/postings/batch=*/term_bucket=*/*.parquet")
        return len(dirs), len(files)

    base = spark.read.parquet(f"{base_dir}/documents.parquet")
    max_id = base.agg(F.max("doc_id")).first()[0]
    if max_id is None:
        raise ValueError(f"{base_dir}/documents.parquet is empty")
    stride = max_id + 1
    scaled = spark.read.parquet(f"{scaled_dir}/documents.parquet")

    store_dir = os.path.join(out_root, f"lexidx_{uuid.uuid4().hex[:8]}")
    st = rt.LexicalIndexStore(spark, store_dir, n_buckets=64,
                              positions=True)
    out: dict = {"batches": [], "n_buckets": 64, "positional": True}
    try:
        for r in range(factor):
            batch = scaled.filter(
                (F.col("doc_id") >= r * stride)
                & (F.col("doc_id") < (r + 1) * stride))
            t0 = pc()
            st.ingest_batch(batch, batch_id=r)
            entry = {"wall": round(pc() - t0, 3)}
            entry["dirs"], entry["files"] = store_files(store_dir)
            if compact_every and (r + 1) % compact_every == 0:
                t0 = pc()
                st.compact(min_run=compact_min_run)
                entry["compact_wall"] = round(pc() - t0, 3)
                entry["dirs"], entry["files"] = store_files(store_dir)
            out["batches"].append(entry)
            print(f"# lexidx batch {r}: {entry['wall']}s "
                  f"dirs={entry['dirs']} files={entry['files']}"
                  + (f" compact={entry['compact_wall']}s"
                     if "compact_wall" in entry else ""), file=sys.stderr)
        # probe parity: incremental store == one-shot corpus scan (the
        # queries hit the unrotated replica; rotation bounds the match
        # set, which is what makes the comparison corpus-size-free)
        bm_q = [(0, "join hash filter"), (1, "customer scan batch window"),
                (2, "spark vector")]
        ph_q = [(0, "sort a"), (1, "part filter"), (2, "small dup")]
        qs_bm = spark.createDataFrame(bm_q, "query_id long, text string")
        qs_ph = spark.createDataFrame(ph_q, "query_id long, text string")
        idx = st.as_index()
        key = lambda r_: (r_.query_id, r_.rank)  # noqa: E731
        t0 = pc()
        inc_bm = sorted(rt.bm25_topk(qs_bm, index=idx, k=5).collect(),
                        key=key)
        out["t_probe_bm25"] = round(pc() - t0, 3)
        t0 = pc()
        inc_ph = sorted(rt.phrase_topk(qs_ph, index=idx, k=5).collect(),
                        key=key)
        out["t_probe_phrase"] = round(pc() - t0, 3)
        t0 = pc()
        ref_bm = sorted(rt.bm25_topk(qs_bm, scaled, k=5,
                                     corpus_text="text").collect(), key=key)
        out["t_oneshot_bm25"] = round(pc() - t0, 3)
        t0 = pc()
        ref_ph = sorted(rt.phrase_topk(qs_ph, scaled, k=5).collect(),
                        key=key)
        out["t_oneshot_phrase"] = round(pc() - t0, 3)
        out["bm25_match"] = inc_bm == ref_bm
        out["phrase_match"] = inc_ph == ref_ph
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    walls = [b["wall"] for b in out["batches"]]
    out["wall_first"], out["wall_last"] = walls[0], walls[-1]
    out["wall_ratio_last_first"] = (
        round(walls[-1] / walls[0], 3) if walls[0] else None)
    return out


def lines_bench(spark, base_dir: str, scaled_dir: str, factor: int) -> dict:
    """Corpus-wide line dedup scaling (ops/dedup.dedup_lines, r8): docs
    reflowed to 10-token lines (the driver row's deterministic reflow),
    then the keep-first-occurrence scrub at base and scaled. The blow-up's
    alphabet rotation is a bijection on 10-grams, so duplicate-line
    structure is replica-local: the number of scrubbed line occurrences
    must scale exactly with the factor."""
    from graflo_spark.catalog import ALL_QUERIES

    pc = time.perf_counter
    out: dict = {}
    fn = ALL_QUERIES["dedup_lines_documents"]
    for label, d in (("base", base_dir), ("scaled", scaled_dir)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        # count non-empty tokens exactly like the driver row's reflow does
        # (an unfiltered split counts a phantom '' token for empty docs)
        n_lines_in = docs.filter("text IS NOT NULL").select(
            F.ceil(
                F.size(F.filter(F.split(F.trim("text"), r"\s+"),
                                lambda w: w != F.lit(""))) / 10.0)
            .alias("n")).agg(F.sum("n")).first()[0]
        t0 = pc()
        scrubbed = fn(spark, d)
        # force full text materialization, not just row counting
        n_lines_out = scrubbed.filter("text IS NOT NULL AND text != ''") \
            .select(F.size(F.split("text", "\n", -1)).alias("n")) \
            .agg(F.sum("n")).first()[0]
        out[label] = {
            "wall": round(pc() - t0, 3),
            "lines_in": int(n_lines_in),
            "lines_out": int(n_lines_out),
            "lines_cut": int(n_lines_in - n_lines_out),
        }
        print(f"# lines {label}: {out[label]}", file=sys.stderr)
    out["exponent"] = (
        round(math.log(out["scaled"]["wall"] / out["base"]["wall"])
              / math.log(factor), 3) if factor > 1 else None)
    out["cut_match"] = (
        out["scaled"]["lines_cut"] == factor * out["base"]["lines_cut"])
    return out


def gopher_bench(spark, base_dir: str, scaled_dir: str, factor: int) -> dict:
    """A/B the two Gopher-gate formulations at base and scaled (the
    r8-verdict task): the shipped array-HOF form (zero shuffle, but
    lambda HOFs evaluate interpreted per element — CodegenFallback in the
    plan) vs the explode+aggregate codegen twin (two doc-id shuffles,
    whole-stage codegen throughout). Equality is asserted once at base;
    the lang-ID gate (regexp-based, codegen already) is measured
    alongside for its own exponent."""
    from graflo_spark.ops.textstats import (
        gopher_quality_rules,
        gopher_quality_rules_exploded,
        lang_id,
    )

    pc = time.perf_counter
    out: dict = {}
    base_docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    a = gopher_quality_rules(base_docs)
    b = gopher_quality_rules_exploded(base_docs)
    out["forms_equal"] = (
        a.exceptAll(b.select(*a.columns)).count() == 0
        and b.select(*a.columns).exceptAll(a).count() == 0)
    forms = {"hof": gopher_quality_rules,
             "exploded": gopher_quality_rules_exploded}
    for form, fn in forms.items():
        entry: dict = {}
        for label, d in (("base", base_dir), ("scaled", scaled_dir)):
            docs = spark.read.parquet(f"{d}/documents.parquet")
            t0 = pc()
            # gopher_pass is the 7-rule conjunction: counting its TRUE
            # rows forces every rule expression, nothing prunes away
            n = fn(docs).filter("gopher_pass").count()
            entry[label] = {"wall": round(pc() - t0, 3), "n_pass": n}
            print(f"# gopher {form}@{label}: {entry[label]}",
                  file=sys.stderr)
        entry["exponent"] = (
            round(math.log(entry["scaled"]["wall"] / entry["base"]["wall"])
                  / math.log(factor), 3) if factor > 1 else None)
        out[form] = entry
    out["winner"] = min(
        forms, key=lambda f: out[f]["scaled"]["wall"])
    lang: dict = {}
    for label, d in (("base", base_dir), ("scaled", scaled_dir)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        t0 = pc()
        counts = (docs.select(lang_id(F.col("text")).alias("lg"))
                  .groupBy("lg").count().collect())
        lang[label] = {"wall": round(pc() - t0, 3),
                       "langs": {r["lg"]: r["count"] for r in counts}}
        print(f"# lang_id@{label}: wall={lang[label]['wall']}",
              file=sys.stderr)
    lang["exponent"] = (
        round(math.log(lang["scaled"]["wall"] / lang["base"]["wall"])
              / math.log(factor), 3) if factor > 1 else None)
    out["lang_id"] = lang
    return out


def vocab_bench(spark, base_dir: str, scaled_dir: str,
                factor: int) -> dict:
    """Vocabulary-growth behavior of the de-broadcast collocations join
    (r9 verdict follow-up, measured r11): at base and scaled, record the
    corpus's distinct-unigram count (the raw vocabulary the r9 fix
    stopped force-broadcasting), the semi-pruned term count (the join's
    ACTUAL right side), the collocations wall, and which physical join
    strategy AQE chose at runtime for the unigram join-backs — the whole
    point of dropping the hint is that this choice becomes
    size-dependent instead of hardcoded."""
    from graflo_spark.ops import textstats as tstats

    pc = time.perf_counter
    out: dict = {}
    for label, d in (("base", base_dir), ("scaled", scaled_dir)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        toks = docs.filter(F.col("text").isNotNull()).select(
            F.explode(tstats.tokens_expr(F.col("text"))).alias("t"))
        vocab = toks.distinct().count()
        col = tstats.collocations(docs, k=100, min_count=5)
        t0 = pc()
        n_rows = len(col.collect())
        wall = round(pc() - t0, 3)
        # AQE's final physical plan, AFTER execution (isFinalPlan=true)
        plan = col._jdf.queryExecution().executedPlan().toString()
        out[label] = {
            "wall": wall, "rows": n_rows, "vocab": int(vocab),
            "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
            "sort_merge_joins": plan.count("SortMergeJoin"),
            "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        }
        print(f"# vocab {label}: {out[label]}", file=sys.stderr)
    out["vocab_growth"] = (
        round(out["scaled"]["vocab"] / out["base"]["vocab"], 3)
        if out["base"]["vocab"] else None)
    out["exponent"] = (
        round(math.log(out["scaled"]["wall"] / out["base"]["wall"])
              / math.log(factor), 3)
        if factor > 1 and out["base"]["wall"] else None)
    return out


def ivfs_incremental_bench(spark, base_dir: str, scaled_dir: str,
                           factor: int, out_root: str,
                           compact_every: int | None = None,
                           compact_min_run: int = 4) -> dict:
    """IvfIndexStore over the scaled (sign-flip-rotated) embedding corpus
    one replica-batch at a time — the dense-index counterpart of
    lexidx_incremental_bench, the r10-verdict Next #1 measurement:
    per-batch ingest walls must stay ~flat as the indexed history grows
    (each batch is ONE frozen-centroid assignment map pass; history is
    never rescanned), size-tiered ``compact()`` every K batches must keep
    BOTH the batch-dir count saw-toothing AND the compact walls flat
    (bounded by the ready tier, not index size — the r10 full-fold policy
    read 2.0->3.6 s monotone), and the final incremental index must answer
    pruned ivf_probe queries identically to a one-shot assignment of the
    full scaled corpus to the SAME frozen centroids."""
    import glob
    import shutil
    import uuid

    from graflo_spark.ops import simsearch as ss

    pc = time.perf_counter

    def store_files(sd: str) -> tuple[int, int]:
        dirs = glob.glob(f"{sd}/index/assigned/batch=*")
        files = glob.glob(f"{sd}/index/assigned/batch=*/cluster=*/*.parquet")
        return len(dirs), len(files)

    base = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    stride = int(base.agg(F.max("vec_id")).first()[0]) + 1
    scaled = spark.read.parquet(f"{scaled_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull())
    # bootstrap fit on replica 0 only, then FROZEN for the whole stream —
    # the store's operating contract (refit() is the explicit rebuild)
    t0 = pc()
    cents = [r["centroid"] for r in ss.build_ivf_index(
        scaled.filter(F.col("vec_id") < stride), n_centroids=16,
        corpus_id="vec_id", corpus_vec="embedding",
    ).centroids.orderBy("cluster").collect()]
    out: dict = {"batches": [], "n_centroids": 16,
                 "t_bootstrap_fit": round(pc() - t0, 3)}
    store_dir = os.path.join(out_root, f"ivfs_{uuid.uuid4().hex[:8]}")
    st = ss.IvfIndexStore(spark, store_dir, centroids=cents)
    try:
        for r in range(factor):
            batch = scaled.filter(
                (F.col("vec_id") >= r * stride)
                & (F.col("vec_id") < (r + 1) * stride))
            t0 = pc()
            st.ingest_batch(batch, batch_id=r)
            entry = {"wall": round(pc() - t0, 3)}
            entry["dirs"], entry["files"] = store_files(store_dir)
            if compact_every and (r + 1) % compact_every == 0:
                t0 = pc()
                st.compact(min_run=compact_min_run)
                entry["compact_wall"] = round(pc() - t0, 3)
                entry["dirs"], entry["files"] = store_files(store_dir)
            out["batches"].append(entry)
            print(f"# ivfs batch {r}: {entry['wall']}s "
                  f"dirs={entry['dirs']} files={entry['files']}"
                  + (f" compact={entry['compact_wall']}s"
                     if "compact_wall" in entry else ""), file=sys.stderr)
        # probe parity: the incremental, tiered-compacted index answers a
        # PRUNED probe (n_probe=4 of 16) identically to a one-shot
        # assignment of the full scaled corpus to the same centroids
        qs = scaled.filter(F.col("vec_id") < 3)
        key = lambda r_: (r_.query_id, r_.rank)  # noqa: E731
        t0 = pc()
        inc = sorted(ss.ivf_probe(st.as_index(), qs, k=5,
                                  n_probe=4).collect(), key=key)
        out["t_probe_incremental"] = round(pc() - t0, 3)
        t0 = pc()
        oneshot = ss.assign_to_centroids(scaled, cents, "vec_id",
                                         "embedding")
        ref = sorted(ss.ivf_probe(oneshot, qs, k=5,
                                  n_probe=4).collect(), key=key)
        out["t_probe_oneshot_assign"] = round(pc() - t0, 3)
        out["probe_match"] = [
            (a.query_id, a.rank, a.neighbor_id) for a in inc] == [
            (a.query_id, a.rank, a.neighbor_id) for a in ref]
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    walls = [b["wall"] for b in out["batches"]]
    out["wall_first"], out["wall_last"] = walls[0], walls[-1]
    out["wall_ratio_last_first"] = (
        round(walls[-1] / walls[0], 3) if walls[0] else None)
    cw = [b["compact_wall"] for b in out["batches"] if "compact_wall" in b]
    if cw:
        out["compact_walls"] = cw
        out["compact_ratio_last_first"] = (
            round(cw[-1] / cw[0], 3) if cw[0] else None)
    return out


def ivfs_drift_bench(spark, base_dir: str, scaled_dir: str,
                     factor: int, out_root: str, k: int = 10,
                     n_probe: int = 3, n_queries: int = 20) -> dict:
    """IVF recall under distribution drift + when to call ``refit()``
    (r11 verdict Next #5): centroids are fit on replica 0, then the
    stream SHIFTS halfway — the second half's vectors are sign-flipped,
    the worst-case drift for a cosine index (every drifted vector's
    nearest pre-drift centroid is the one OPPOSITE its true direction,
    so drifted mass piles into few stale cells and pruned probes miss).
    Measures pruned-probe recall@k against brute force, separately for
    pre-drift and post-drift query sets, BEFORE and AFTER ``refit()`` —
    the quantitative answer to 'how much drift do frozen centroids
    tolerate, and what does refit buy'."""
    import shutil
    import uuid

    from graflo_spark.ops import simsearch as ss

    pc = time.perf_counter

    base = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    stride = int(base.agg(F.max("vec_id")).first()[0]) + 1
    scaled = spark.read.parquet(f"{scaled_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull())
    half = max(1, factor // 2)
    flip = F.transform(F.col("embedding"), lambda x: -x)
    drifted = scaled.withColumn(
        "embedding",
        F.when(F.col("vec_id") >= half * stride, flip)
        .otherwise(F.col("embedding")))

    t0 = pc()
    cents = [r["centroid"] for r in ss.build_ivf_index(
        drifted.filter(F.col("vec_id") < stride), n_centroids=16,
        corpus_id="vec_id", corpus_vec="embedding",
    ).centroids.orderBy("cluster").collect()]
    out: dict = {"n_centroids": 16, "k": k, "n_probe": n_probe,
                 "drift_at_batch": half, "n_batches": factor,
                 "t_bootstrap_fit": round(pc() - t0, 3)}
    store_dir = os.path.join(out_root, f"ivfsdrift_{uuid.uuid4().hex[:8]}")
    st = ss.IvfIndexStore(spark, store_dir, centroids=cents)
    try:
        for r in range(factor):
            batch = drifted.filter(
                (F.col("vec_id") >= r * stride)
                & (F.col("vec_id") < (r + 1) * stride))
            st.ingest_batch(batch, batch_id=r)

        q_pre = drifted.filter(F.col("vec_id") < n_queries)
        q_post = drifted.filter(
            (F.col("vec_id") >= half * stride)
            & (F.col("vec_id") < half * stride + n_queries))

        def recall(queries) -> float:
            idx = st.as_index()
            got = ss.ivf_probe(idx, queries, k=k, n_probe=n_probe).collect()
            ref = ss.brute_force_topk(
                queries, idx.assigned, k=k,
                corpus_id="neighbor_id", corpus_vec="c_vec").collect()
            by_q: dict = {}
            for r_ in got:
                by_q.setdefault(r_.query_id, set()).add(r_.neighbor_id)
            hits = tot = 0
            truth: dict = {}
            for r_ in ref:
                truth.setdefault(r_.query_id, set()).add(r_.neighbor_id)
            for qid, t in truth.items():
                hits += len(t & by_q.get(qid, set()))
                tot += len(t)
            return round(hits / tot, 4) if tot else 0.0

        out["recall_pre_drift_queries_frozen"] = recall(q_pre)
        out["recall_post_drift_queries_frozen"] = recall(q_post)
        t0 = pc()
        st.refit(n_centroids=16)
        out["t_refit"] = round(pc() - t0, 3)
        out["recall_pre_drift_queries_refit"] = recall(q_pre)
        out["recall_post_drift_queries_refit"] = recall(q_post)
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    return out


def semstore_incremental_bench(spark, base_dir: str, scaled_dir: str,
                               factor: int, out_root: str,
                               compact_every: int | None = None,
                               compact_min_run: int = 4,
                               sub_splits: int = 1) -> dict:
    """SemDedupStore over the scaled embedding corpus one replica-batch
    at a time — the r11 streaming-semantic-dedup delivery measured at
    scale. UNLIKE the index stores (whose ingest never rescans history),
    each batch here must COMPARE against its cells' history — that is
    the semantics of dedup-against-everything-seen — so the expected
    ingest wall grows ~linearly with history/cells (the SemDeDup cell
    dial bounds the constant, and the assignment itself stays one map
    pass). This bench records that growth honestly, plus the end-state
    parity: clusters() over the 20-batch store must equal one-shot
    semantic_dedup of the full scaled corpus on the same frozen
    centroids."""
    import glob
    import shutil
    import uuid

    from graflo_spark.ops import dedup as dd
    from graflo_spark.ops import simsearch as ss

    pc = time.perf_counter

    base = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    stride = int(base.agg(F.max("vec_id")).first()[0]) + 1
    scaled = spark.read.parquet(f"{scaled_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull())
    t0 = pc()
    cents = [r["centroid"] for r in ss.build_ivf_index(
        scaled.filter(F.col("vec_id") < stride), n_centroids=16,
        corpus_id="vec_id", corpus_vec="embedding",
    ).centroids.orderBy("cluster").collect()]
    out: dict = {"batches": [], "n_centroids": 16, "threshold": 0.4,
                 "t_bootstrap_fit": round(pc() - t0, 3)}
    store_dir = os.path.join(out_root, f"semstore_{uuid.uuid4().hex[:8]}")
    st = dd.SemDedupStore(spark, store_dir, threshold=0.4, centroids=cents)
    # --subsplit: slice each replica into sub_splits smaller batches so
    # accumulated history grows to (factor*sub_splits)x the batch size —
    # the regime where the Theta(|batch| * history/cells) comparison term
    # is measurable above scheduling noise (r11 verdict Next #4)
    n_batches = factor * sub_splits
    sub = max(1, -(-stride // sub_splits))  # ceil division
    out["n_batches"] = n_batches
    out["batch_rows"] = None
    try:
        for r in range(n_batches):
            batch = scaled.filter(
                (F.col("vec_id") >= r * sub)
                & (F.col("vec_id") < (r + 1) * sub))
            if out["batch_rows"] is None:
                out["batch_rows"] = batch.count()
            t0 = pc()
            n_new = st.ingest_batch(batch, batch_id=r).count()
            entry = {"wall": round(pc() - t0, 3), "new_pairs": int(n_new)}
            entry["pair_dirs"] = len(
                glob.glob(f"{store_dir}/pairs/batch=*"))
            if compact_every and (r + 1) % compact_every == 0:
                t0 = pc()
                st.compact(min_run=compact_min_run)
                entry["compact_wall"] = round(pc() - t0, 3)
                entry["pair_dirs"] = len(
                    glob.glob(f"{store_dir}/pairs/batch=*"))
            out["batches"].append(entry)
            print(f"# semstore batch {r}: {entry['wall']}s "
                  f"pairs+={n_new} dirs={entry['pair_dirs']}"
                  + (f" compact={entry['compact_wall']}s"
                     if "compact_wall" in entry else ""), file=sys.stderr)
        t0 = pc()
        inc = sorted(map(tuple, st.clusters().collect()))
        out["t_clusters"] = round(pc() - t0, 3)
        t0 = pc()
        ref = sorted(map(tuple, dd.semantic_dedup(
            scaled, "vec_id", "embedding", threshold=0.4,
            centroids=cents).collect()))
        out["t_oneshot"] = round(pc() - t0, 3)
        out["clusters_match"] = inc == ref
        out["n_rows"] = len(inc)
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    walls = [b["wall"] for b in out["batches"]]
    out["wall_first"], out["wall_last"] = walls[0], walls[-1]
    out["wall_ratio_last_first"] = (
        round(walls[-1] / walls[0], 3) if walls[0] else None)
    # history-growth fit (r11 verdict Next #4): per-batch ingest wall vs
    # batch index. Least-squares slope in ms/batch isolates the linear
    # history term from the constant assignment term; the quarter means
    # give the same signal robustly against single-batch noise.
    n = len(walls)
    if n >= 8:
        xm, ym = (n - 1) / 2, sum(walls) / n
        sxx = sum((i - xm) ** 2 for i in range(n))
        sxy = sum((i - xm) * (w - ym) for i, w in enumerate(walls))
        out["wall_slope_ms_per_batch"] = round(1000 * sxy / sxx, 2)
        q = max(1, n // 4)
        out["wall_mean_first_quarter"] = round(sum(walls[:q]) / q, 3)
        out["wall_mean_last_quarter"] = round(sum(walls[-q:]) / q, 3)
    return out


def semdedup_bench(spark, base_dir: str, scaled_dir: str,
                   factor: int) -> dict:
    """SemDeDup scaling (r8-verdict Next #5): cells -> within-cell exact
    cosine pairs -> star-contraction CC -> graded representatives, with
    the PRODUCTION dial — ``n_clusters`` scales with the corpus so the
    expected cell size, and with it the per-cell quadratic pair term,
    stays constant (the published SemDeDup cost/recall knob; same sizing
    rule as store_bench's bucket count). KMeans is seeded, so each run is
    deterministic; counts are RECORDED, not asserted linear — the
    blow-up's sign-flip rotation preserves intra-replica geometry but
    re-rolls frozen-cell membership, so pair structure is corpus-shaped,
    not replica-copied."""
    from graflo_spark.ops.dedup import semantic_dedup

    pc = time.perf_counter
    out: dict = {}
    for label, d, k in (("base", base_dir, 16),
                        ("scaled", scaled_dir, 16 * factor)):
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        t0 = pc()
        cl = semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.4, n_clusters=k,
            scores=emb.select("vec_id", F.col("label").alias("score")))
        agg = cl.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("is_representative"), 1).otherwise(0))
            .alias("reps"),
            F.count_distinct("cluster").alias("clusters")).first()
        out[label] = {
            "wall": round(pc() - t0, 3), "n_clusters_param": k,
            "rows": agg["rows"], "representatives": agg["reps"],
            "semantic_groups": agg["clusters"],
            "dups_removed": agg["rows"] - agg["reps"],
        }
        print(f"# semdedup {label}: {out[label]}", file=sys.stderr)
    out["exponent"] = (
        round(math.log(out["scaled"]["wall"] / out["base"]["wall"])
              / math.log(factor), 3) if factor > 1 else None)
    return out


def pipeline_bench(spark, base_dir: str, scaled_dir: str, factor: int,
                   substring_k: int | None = None,
                   all_gates: bool = False) -> dict:
    """Composed prepare-training-data pipeline at scale, with the funnel
    invariant: the blow-up preserves duplicate structure per replica, so
    every funnel stage — and especially the kept count — must scale by
    exactly ``factor``. The quality gate runs with min_quality=0 because
    the stopword component of the heuristic is (by design) not invariant
    under the blow-up's alphabet rotation; the token-count and punct
    gates are, so the stage still exercises its plumbing. Two documented
    caveats (rotation re-rolls the MinHash realization; near-threshold
    pairs can flip) make kept_match corpus-dependent — on the shipped
    sf0.1 corpus it must hold.

    ``all_gates=True`` (the --gates run, r8-verdict Next #6) turns on
    EVERY optional stage — Gopher rules, language gate, CCNet LM gate,
    quality classifier, corpus-wide line scrub, and the k=8 substring
    scrub — the production configuration, measured composed. Thresholds
    are chosen so the full cost is paid while rotated replicas still
    flow downstream (otherwise the dedup stages would only ever see
    replica 0 and measure nothing): allowed_langs includes 'und' (all
    rotated text predicts 'und' — lang machinery on, drops ~0),
    max_cross_entropy=9.0 (loose literal), clf_min_prob=0.0 (full
    train+score cost, drops 0 — dropping behavior is driver-row proven).
    stage_match entries for rotation-sensitive or corpus-trained stages
    (gopher's stopword rule, lm, clf) are RECORDED, not promised: the
    blow-up rotation breaks their per-replica invariance by design."""
    from graflo_spark.ops import pipeline as pl

    pc = time.perf_counter
    out: dict = {}
    kwargs: dict = dict(min_quality=0.0, min_tokens=5,
                        dedup_substring_k=substring_k)
    if all_gates:
        # Corpus-fit, rotation-closed gate thresholds — rationale for
        # every knob in _gates_kwargs (Gopher stop list closed under all
        # 26 letter rotations so replica counts stay invariant; C4
        # word-count rule survives rotation; terminal-punct rule off for
        # the punctuation-free corpus).
        kwargs.update(_gates_kwargs(substring_k))
    cfg = pl.PipelineConfig(**kwargs)
    for label, d in (("base", base_dir), ("scaled", scaled_dir)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        t0 = pc()
        chunks, annotated, funnel = pl.prepare_training_data(docs, None, cfg)
        stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
        n_chunks = chunks.count()
        wall = round(pc() - t0, 3)
        annotated.unpersist()
        out[label] = {"wall": wall, "funnel": stages, "chunks": n_chunks}
    bf, sf_ = out["base"]["funnel"], out["scaled"]["funnel"]
    out["exponent"] = (
        round(math.log(out["scaled"]["wall"] / out["base"]["wall"])
              / math.log(factor), 3) if factor > 1 else None)
    out["kept_match"] = sf_.get("kept") == factor * bf.get("kept", 0)
    out["stage_match"] = {
        k: sf_.get(k) == factor * v for k, v in bf.items()}
    return out


def _gates_kwargs(substring_k: int | None = None) -> dict:
    """The --gates production configuration (every optional stage on,
    thresholds rotation-safe — see pipeline_bench's docstring for why
    each knob is what it is), shared by the composed run and the
    per-stage ladder."""
    import string

    lo = string.ascii_lowercase
    rot_stops = tuple(sorted({
        w.translate(str.maketrans(lo, lo[r:] + lo[:r]))
        for w in ("spark", "query", "table", "line",
                  "scan", "hash", "part", "fast")
        for r in range(26)}))
    return dict(
        gopher_rules=True, gopher_min_words=20,
        gopher_stopwords=rot_stops,
        allowed_langs=["en", "de", "fr", "es", "zh", "und"],
        dedup_lines_delimiter="\n",
        max_cross_entropy=9.0,
        clf_pos_filter="lang = 'en'", clf_min_prob=0.0,
        dedup_substring_k=substring_k or 8,
        c4_clean=True, c4_min_words_per_line=8,
        c4_terminal_punct=None, c4_line_blocklist=(),
        c4_min_kept_lines=1,
    )


def pipeline_stage_bench(spark, base_dir: str, scaled_dir: str,
                         factor: int) -> dict:
    """Per-stage cost decomposition of the composed pipeline (VERDICT r12
    Next #4 asks for per-stage walls + exponents, not just the composed
    total pipeline_bench reports). Spark fuses the flag gates into one
    scan, so an in-DAG stopwatch would lie; instead each optional gate's
    cost is measured as the MARGINAL wall of a config ladder — run k has
    gates 1..k on, and stage k costs wall(k) - wall(k-1) under full
    composition (interactions with everything before it included, which
    is the number a capacity planner actually needs). The ladder floor
    is the always-on spine (quality flags + decontam + exact dedup +
    near-dup LSH + split + pack), whose members carry their own SCALE.md
    rows; the ladder adds gopher -> lang -> c4 -> line-dedup -> lm ->
    classifier -> substring-scrub in production order. Marginals under
    0.3 s at base are reported but their exponents marked None (noise
    division). Funnel counts per stage come with the final all-gates
    run."""
    from graflo_spark.ops import pipeline as pl

    pc = time.perf_counter
    gates = _gates_kwargs()
    floor = dict(min_quality=0.0, min_tokens=5)
    ladder: list[tuple[str, dict]] = [("floor", {})]
    for name, keys in (
        ("gopher", ("gopher_rules", "gopher_min_words", "gopher_stopwords")),
        ("lang", ("allowed_langs",)),
        ("c4", ("c4_clean", "c4_min_words_per_line", "c4_terminal_punct",
                "c4_line_blocklist", "c4_min_kept_lines")),
        ("line_dedup", ("dedup_lines_delimiter",)),
        ("lm", ("max_cross_entropy",)),
        ("clf", ("clf_pos_filter", "clf_min_prob")),
        ("substring", ("dedup_substring_k",)),
    ):
        step = dict(ladder[-1][1])
        step.update({k: gates[k] for k in keys})
        ladder.append((name, step))
    out: dict = {}
    # untimed all-gates warm-up: the first timed run would otherwise be
    # charged the whole-stage-codegen compilation tax and every marginal
    # after it would absorb the warm-up DECAY (the smoke run read
    # NEGATIVE gate marginals before this)
    warm_docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    wcfg = pl.PipelineConfig(**{**floor, **ladder[-1][1]})
    wc, wa, wf = pl.prepare_training_data(warm_docs, None, wcfg)
    wf.collect()
    wc.count()
    wa.unpersist()
    repeats = int(os.environ.get("SPARK_GRAFT_STAGE_REPEATS", "3"))
    for label, d in (("base", base_dir), ("scaled", scaled_dir)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        walls: dict[str, float] = {}
        funnel_counts: dict[str, int] = {}
        for name, extra in ladder:
            cfg = pl.PipelineConfig(**{**floor, **extra})
            # single-pass marginals at 10x read +-20s run-to-run swings
            # (JVM heap churn across 8 heavy composed runs) — each rung
            # is the MEDIAN of `repeats` runs, cache cleared between
            runs: list[float] = []
            for _ in range(repeats):
                spark.catalog.clearCache()
                # localCheckpoint blocks from the near-dup CC survive
                # clearCache and unpersist-of-the-annotated-frame; after
                # ~20 composed runs the accumulated blocks starve the
                # MemoryStore and a checkpoint write aborts (observed at
                # 10x). Drop every persistent RDD between runs.
                jmap = spark.sparkContext._jsc.getPersistentRDDs()
                for rdd in list(jmap.values()):
                    try:
                        rdd.unpersist()
                    except Exception:  # noqa: BLE001
                        pass
                t0 = pc()
                chunks, annotated, funnel = pl.prepare_training_data(
                    docs, None, cfg)
                stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
                chunks.count()
                runs.append(round(pc() - t0, 3))
                annotated.unpersist()
            # min-of-k, not median: composed-run walls at 10x are
            # bimodal (GC pauses, cold page cache) with +-20s spikes;
            # the MIN is the classic low-noise wall estimator and biases
            # every rung consistently, so the DIFFERENCES (the marginals)
            # are what stabilize
            walls[name] = min(runs)
            if name == ladder[-1][0]:
                funnel_counts = stages
        entry: dict = {"walls": walls, "funnel": funnel_counts}
        prev = None
        marg: dict[str, float] = {}
        for name, _ in ladder:
            marg[name] = (round(walls[name] - prev, 3)
                          if prev is not None else walls[name])
            prev = walls[name]
        entry["marginal"] = marg
        print(f"# stages@{label}: " + " ".join(
            f"{k}={v}s" for k, v in marg.items()), file=sys.stderr)
        out[label] = entry
    exps: dict[str, float | None] = {}
    for name, _ in ladder:
        mb = out["base"]["marginal"].get(name)
        ms = out["scaled"]["marginal"].get(name)
        exps[name] = (
            round(math.log(ms / mb) / math.log(factor), 3)
            if mb and ms and mb >= 0.3 and ms > 0 and factor > 1 else None)
    out["exponents"] = exps
    return out


GRAPH_QUERIES = [
    "pagerank_trade_network",
    "hits_trade_network",
    "ppr_trade_network",
    "lpa_communities_trade",
    "sssp_trade_network",
    "kcore_copurchase",
    "triangle_corners_copurchase",
    "link_prediction_copurchase",
]

# The production knob for web-scale power-law graphs (the registered
# driver row runs UNCAPPED for oracle exactness at sf0.01 density).
LINKPRED_CAP = 1000


def _copurchase_pairs(spark, sf_dir: str):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey")
    return (
        li.alias("a").join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("id_a"),
                F.col("b.l_partkey").alias("id_b"))
    )


def graph_bench(spark, base_dir: str, scaled_dir: str, factor: int,
                uncapped_linkpred: bool = True,
                only: str | None = None) -> dict:
    """Graph-analytics scaling: the trade-graph iterative family and the
    co-purchase wedge/peel family at base and scaled — run back-to-back
    in ONE session, which is itself part of the measurement: per-round
    localCheckpoint blocks are reclaimed by ops.util.Checkpointer, so the
    catalog must complete without the GCLocker accumulation wedge the
    r5 run hit. The replica blow-up keeps part/order keys disjoint, so
    wedges, triangles, cores and candidate pairs are replica-local —
    output structure scales exactly linearly, making the exponents
    honest. link_prediction's min_common is tuned to sf0.01 density (the
    driver gate); at sf0.1+ the wedge join still runs in full, which is
    what the timing measures.

    Two link-prediction entries: the registered UNCAPPED row (exact; at
    20x locally it is heap-bound by design — pass
    ``uncapped_linkpred=False`` / omit --uncapped-linkpred to skip it in
    a default-heap session) and the CAPPED production configuration
    (max_degree=LINKPRED_CAP), which must complete in the default heap
    at every factor."""
    from graflo_spark.catalog import ALL_QUERIES as QUERIES
    from graflo_spark.ops import graphalgo as ga

    pc = time.perf_counter
    out: dict = {}
    warm = "/root/testdata/sf0.001"
    names = [n for n in GRAPH_QUERIES
             if uncapped_linkpred or n != "link_prediction_copurchase"]

    def run_capped(d: str) -> int:
        return ga.link_prediction_scores(
            _copurchase_pairs(spark, d), min_common=20,
            max_degree=LINKPRED_CAP).count()

    runners = {n: (lambda d, n=n: QUERIES[n](spark, d).count())
               for n in names}
    runners["link_prediction_copurchase_capped"] = run_capped
    if only:
        runners = {n: f for n, f in runners.items() if only in n}
        if not runners:
            raise SystemExit(f"--only {only!r} matches no graph query")
    for name, fn in runners.items():
        try:
            if os.path.isdir(warm):
                fn(warm)
        except Exception:  # noqa: BLE001
            pass
        entry: dict = {}
        for label, d in (("base", base_dir), ("scaled", scaled_dir)):
            t0 = pc()
            try:
                n = fn(d)
            except Exception as exc:  # noqa: BLE001
                print(f"# {name}@{label}: FAILED {exc}"[:300],
                      file=sys.stderr)
                entry[f"t_{label}"] = None
                continue
            entry[f"t_{label}"] = round(pc() - t0, 3)
            entry[f"rows_{label}"] = n
            print(f"# {name}@{label}: {entry[f't_{label}']}s rows={n}",
                  file=sys.stderr)
        tb_, ts_ = entry.get("t_base"), entry.get("t_scaled")
        entry["exponent"] = (
            round(math.log(ts_ / tb_) / math.log(factor), 3)
            if tb_ and ts_ and factor > 1 else None)
        out[name] = entry
    return out


def traverse_bench(spark, base_dir: str, scaled_dir: str, factor: int,
                   hops: int = 3, n_seeds: int = 8) -> dict:
    """k-hop BFS scaling over the copurchase edge set (VERDICT r12 Next
    #3: SCALE.md had no traverse exponent — the registered row runs on a
    9-row result). Seeds are the ``n_seeds`` lowest part keys under the
    same rule at both scales; the replica blow-up keeps part keys
    disjoint, so the frontier expands within one replica while the EDGE
    side grows ``factor``x — exactly the regime where a frontier design
    that rescans or re-shuffles the whole edge table per hop would go
    super-linear.

    Two timings per scale: the default path (frontiers under
    ``BROADCAST_FRONTIER_MAX_ROWS`` broadcast-probe the edge table) and a
    forced-AQE path (threshold monkeypatched to 0 — every hop takes the
    shuffled-join route a 100 TB frontier would), proving the
    above-threshold fallback is planful, not just reachable. Per-hop
    cumulative walls come from re-running at hops=1..k (BFS work is
    prefix-shaped, so wall(k) - wall(k-1) is the marginal hop cost);
    per-hop reach counts come from the hop column of the deepest run."""
    from graflo_spark import query as q
    from graflo_spark.manifest import (
        CoreSchema, Edge, EdgeId, Field, FieldType, Vertex)
    from graflo_spark.query import Direction, GraphView

    pc = time.perf_counter
    schema = CoreSchema(
        vertices=[Vertex("part", [Field("p_partkey", FieldType.INT)],
                         identity=["p_partkey"])],
        edges=[Edge("part", "part", relation="copurchase")],
    )
    out: dict = {}
    for label, d in (("base", base_dir), ("scaled", scaled_dir)):
        pairs = _copurchase_pairs(spark, d)
        edges = pairs.select(
            F.col("id_a").alias("_src_p_partkey"),
            F.col("id_b").alias("_dst_p_partkey")).dropDuplicates()
        verts = (pairs.select(F.col("id_a").alias("p_partkey"))
                 .union(pairs.select("id_b")).distinct())
        # materialize inputs once: the timing must charge the TRAVERSAL,
        # not the co-purchase wedge self-join that builds the fixture
        edges = edges.localCheckpoint()
        verts = verts.localCheckpoint()
        entry: dict = {"edges": edges.count(), "vertices": verts.count()}
        view = GraphView(
            vertices={"part": verts},
            edges={EdgeId("part", "part", "copurchase"): edges},
            schema=schema)
        seeds = [int(r[0]) for r in
                 verts.orderBy("p_partkey").limit(n_seeds).collect()]
        flt = [("part", {"field": "p_partkey", "op": "IN", "value": seeds})]
        for h in range(1, hops + 1):
            t0 = pc()
            res = view.traverse(flt, hops=h, direction=Direction.ANY)
            by_hop = dict(res.groupBy("hop").count().collect())
            entry[f"h{h}_wall"] = round(pc() - t0, 3)
            entry[f"h{h}_reach"] = int(by_hop.get(h, 0))
        # forced-AQE: the above-threshold (no-broadcast-hint) route
        saved = q.BROADCAST_FRONTIER_MAX_ROWS
        q.BROADCAST_FRONTIER_MAX_ROWS = 0
        try:
            t0 = pc()
            view.traverse(flt, hops=hops, direction=Direction.ANY).count()
            entry["aqe_wall"] = round(pc() - t0, 3)
        finally:
            q.BROADCAST_FRONTIER_MAX_ROWS = saved
        print(f"# traverse@{label}: " + " ".join(
            f"h{h}={entry[f'h{h}_wall']}s/{entry[f'h{h}_reach']}"
            for h in range(1, hops + 1)) +
            f" aqe={entry['aqe_wall']}s edges={entry['edges']}",
            file=sys.stderr)
        out[label] = entry
    tb, ts = out["base"].get(f"h{hops}_wall"), out["scaled"].get(f"h{hops}_wall")
    out["exponent"] = (round(math.log(ts / tb) / math.log(factor), 3)
                       if tb and ts and factor > 1 else None)
    ta, tsa = out["base"].get("aqe_wall"), out["scaled"].get("aqe_wall")
    out["aqe_exponent"] = (round(math.log(tsa / ta) / math.log(factor), 3)
                           if ta and tsa and factor > 1 else None)
    return out


def hub_bench(spark, factor: int) -> dict:
    """The celebrity-hub adversarial graph for link prediction: ONE node
    adjacent to every other node, over a sparse ring background. Through
    the hub, every one of the C(n,2) node pairs is a wedge — the deg^2
    fan-out that melts an uncapped wedge join at web scale. Measures:

    - uncapped at two SMALL sizes (contrast pair): wall should grow ~4x
      for 2x nodes (quadratic, e~2) — the structural problem, measured
      rather than asserted;
    - capped (max_degree=LINKPRED_CAP) at small AND at n = 10_000 x
      factor: the hub is excluded BEFORE the join, so wall tracks the
      ring's linear wedge count and must complete in the default heap.

    Scores under the cap keep exact values for every pair whose shared
    neighbors are non-hubs (the ring pairs); hub-only pairs disappear —
    the documented recall trade-off."""
    from graflo_spark.ops import graphalgo as ga

    pc = time.perf_counter
    out: dict = {}

    def hub_graph(n: int):
        leaves = spark.range(1, n)
        hub = leaves.select(F.lit(0).alias("id_a"),
                            F.col("id").alias("id_b"))
        ring = leaves.select(
            F.col("id").alias("id_a"),
            (F.lit(1) + F.pmod(F.col("id"), F.lit(n - 1))).alias("id_b"))
        return hub.unionByName(ring)

    # codegen warm-up: the first invocation pays whole-stage compilation,
    # which at contrast-pair sizes would swamp the signal
    ga.link_prediction_scores(hub_graph(500), min_common=1).count()
    ga.link_prediction_scores(
        hub_graph(500), min_common=1, max_degree=LINKPRED_CAP).count()

    # quadratic contrast: uncapped at n and 2n — wedge counts 5e7 vs 2e8,
    # large enough that the join dominates scheduling overhead but still
    # safe in the default heap
    for n in (10_000, 20_000):
        g = hub_graph(n)
        t0 = pc()
        rows = ga.link_prediction_scores(g, min_common=1).count()
        out[f"uncapped_n{n}"] = {"wall": round(pc() - t0, 3), "rows": rows}
        print(f"# hub uncapped n={n}: {out[f'uncapped_n{n}']['wall']}s "
              f"rows={rows}", file=sys.stderr)
    w1 = out["uncapped_n10000"]["wall"]
    w2 = out["uncapped_n20000"]["wall"]
    out["uncapped_exponent_vs_nodes"] = (
        round(math.log(w2 / w1) / math.log(2), 2) if w1 and w2 else None)

    # capped: hub degree exceeds the cap at every size here, so the hub
    # is excluded pre-join and cost follows the linear ring wedges
    sizes = (20_000, 100_000 * factor)
    for n in sizes:
        g = hub_graph(n)
        t0 = pc()
        rows = ga.link_prediction_scores(
            g, min_common=1, max_degree=LINKPRED_CAP).count()
        out[f"capped_n{n}"] = {"wall": round(pc() - t0, 3), "rows": rows}
        print(f"# hub capped n={n}: {out[f'capped_n{n}']['wall']}s "
              f"rows={rows}", file=sys.stderr)
    wa = out[f"capped_n{sizes[0]}"]["wall"]
    wb = out[f"capped_n{sizes[1]}"]["wall"]
    out["capped_exponent_vs_nodes"] = (
        round(math.log(wb / wa) / math.log(sizes[1] / sizes[0]), 2)
        if wa and wb else None)
    return out


def power_law_bench(spark, factor: int, s: float = 2.0) -> dict:
    """Zipfian-degree scale corpus (r5 task: the replica blow-up is
    skew-GENTLE by construction — disjoint keys per replica — so this
    mode asks the opposite question: what do the graph algorithms do when
    degree skew GROWS with the data?). Nodes are drawn per edge endpoint
    from a Pareto inverse-CDF over hash-uniform u (node = floor(u^(-1/
    (s-1))), heavy mass at small ids), so hub degrees scale WITH edge
    count — the web-graph shape. Base = 60k edges; scaled = factor x.
    Reports walls + exponents for triangles / LPA / k-core / capped
    link prediction, plus the realized max degree at each size."""
    from graflo_spark.ops import graphalgo as ga

    pc = time.perf_counter
    big = 2**40

    def zipf_edges(m: int, n_cap: int):
        def draw(salt: str):
            u = (F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(big))
                 + F.lit(1.0)) / F.lit(float(big))
            return F.least(
                F.floor(F.pow(u, F.lit(-1.0 / (s - 1.0)))),
                F.lit(n_cap)).cast("long")

        return (
            spark.range(m)
            .select(draw("a").alias("id_a"), draw("b").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
        )

    # codegen warm-up on a tiny graph so base walls aren't charged
    # whole-stage compilation
    warm = zipf_edges(5_000, n_cap=5_000).localCheckpoint(eager=True)
    ga.triangle_count(warm, per_node=True).count()
    ga.label_propagation(warm, max_iter=2).count()
    ga.k_core(warm, k=8).count()
    ga.link_prediction_scores(
        warm, min_common=2, max_degree=LINKPRED_CAP).count()

    out: dict = {}
    m_base = 60_000
    for label, m in (("base", m_base), ("scaled", m_base * factor)):
        edges = zipf_edges(m, n_cap=m)  # id range grows with edge count
        edges = edges.localCheckpoint(eager=True)
        deg = (
            edges.select(F.col("id_a").alias("n"))
            .unionAll(edges.select(F.col("id_b").alias("n")))
            .groupBy("n").count().agg(F.max("count")).first()[0]
        )
        res: dict = {"edges": edges.count(), "max_degree": int(deg)}
        for name, fn in (
            ("triangles", lambda: ga.triangle_count(
                edges, per_node=True).count()),
            # driver_collapse_max_edges=0: this ladder measures the
            # DISTRIBUTED rounds' scaling — the base point (60k edges)
            # would otherwise take the driver fast path and fake the
            # exponent
            ("lpa", lambda: ga.label_propagation(
                edges, max_iter=4, driver_collapse_max_edges=0).count()),
            ("kcore", lambda: ga.k_core(edges, k=8).count()),
            ("linkpred_capped", lambda: ga.link_prediction_scores(
                edges, min_common=2, max_degree=LINKPRED_CAP).count()),
        ):
            t0 = pc()
            rows = fn()
            res[f"t_{name}"] = round(pc() - t0, 3)
            res[f"rows_{name}"] = rows
            print(f"# power_law {label} {name}: {res[f't_{name}']}s "
                  f"rows={rows}", file=sys.stderr)
        out[label] = res
    out["exponents"] = {
        k: (round(math.log(out["scaled"][f"t_{k}"] / out["base"][f"t_{k}"])
                  / math.log(factor), 3)
            if out["base"].get(f"t_{k}") and out["scaled"].get(f"t_{k}")
            and factor > 1 else None)
        for k in ("triangles", "lpa", "kcore", "linkpred_capped")
    }
    return out


def main() -> None:
    flags = {"--hot-group", "--incremental", "--store", "--temporal-skew",
             "--winnow", "--pipeline", "--stages", "--graph",
             "--traverse", "--hub", "--power-law",
             "--uncapped-linkpred", "--substring", "--lines", "--gopher",
             "--gates", "--semdedup", "--lexidx", "--ivfs", "--vocab",
             "--semstore", "--drift"}
    # --only <substr>: restrict --graph to matching queries (idle-box
    # single-query re-measurements, r7 verdict Next #7)
    only = None
    argv = list(sys.argv[1:])
    if "--only" in argv:
        i = argv.index("--only")
        if i + 1 >= len(argv):
            raise SystemExit("--only requires a value (a query substring)")
        only = argv[i + 1]
        del argv[i:i + 2]
    # --compact-every K: fold the LineDedupStore hash dirs every K batches
    # during --lines --incremental (bounded-file-count measurement)
    compact_every = None
    if "--compact-every" in argv:
        i = argv.index("--compact-every")
        if i + 1 >= len(argv):
            raise SystemExit("--compact-every requires an integer value")
        compact_every = int(argv[i + 1])
        del argv[i:i + 2]
    # --subsplit N: slice each replica into N sub-batches during
    # --semstore so history grows to factor*N x the batch size (the
    # history-term measurement regime)
    sub_splits = 1
    if "--subsplit" in argv:
        i = argv.index("--subsplit")
        if i + 1 >= len(argv):
            raise SystemExit("--subsplit requires an integer value")
        sub_splits = int(argv[i + 1])
        del argv[i:i + 2]
    args = [a for a in argv if a not in flags]
    hot_group = "--hot-group" in sys.argv[1:]
    incremental = "--incremental" in sys.argv[1:]
    store_mode = "--store" in sys.argv[1:]
    temporal_skew = "--temporal-skew" in sys.argv[1:]
    winnow_mode = "--winnow" in sys.argv[1:]
    gates_mode = "--gates" in sys.argv[1:]
    pipeline_mode = "--pipeline" in sys.argv[1:] or gates_mode
    lines_mode = "--lines" in sys.argv[1:]
    lexidx_mode = "--lexidx" in sys.argv[1:]
    ivfs_mode = "--ivfs" in sys.argv[1:]
    vocab_mode = "--vocab" in sys.argv[1:]
    semstore_mode = "--semstore" in sys.argv[1:]
    drift_mode = "--drift" in sys.argv[1:]
    gopher_mode = "--gopher" in sys.argv[1:]
    semdedup_mode = "--semdedup" in sys.argv[1:]
    graph_mode = "--graph" in sys.argv[1:]
    traverse_mode = "--traverse" in sys.argv[1:]
    stages_mode = "--stages" in sys.argv[1:]
    hub_mode = "--hub" in sys.argv[1:]
    power_law_mode = "--power-law" in sys.argv[1:]
    uncapped_linkpred = "--uncapped-linkpred" in sys.argv[1:]
    if incremental and hot_group:
        # reject BEFORE any Spark work — not after minutes of measurement
        raise SystemExit(
            "--incremental's survivor invariant only holds for the "
            "clean blow-up (the hot-group rewrite spans replicas)")
    factor = int(args[0]) if args else 10
    out_root = args[1] if len(args) > 1 else "/tmp/graflo_scale"
    suffix = f"_x{factor}" + ("_hot" if hot_group else "")
    out_dir = os.path.join(
        out_root, f"{os.path.basename(BASE_DIR.rstrip('/'))}{suffix}")

    from graflo_spark.catalog import ALL_QUERIES as QUERIES
    from graflo_spark.session import get_spark

    spark = get_spark("graflo-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # hub / power-law synthesize their own graphs: no blow-up needed
    needs_blowup = not (hub_mode or power_law_mode) or (
        store_mode or temporal_skew or winnow_mode or pipeline_mode
        or lines_mode or graph_mode or traverse_mode or stages_mode
        or incremental or gopher_mode
        or semdedup_mode or lexidx_mode or ivfs_mode or vocab_mode
        or semstore_mode or drift_mode)
    if needs_blowup and not os.path.exists(
            os.path.join(out_dir, "_GENERATED")):
        t0 = time.perf_counter()
        generate(spark, BASE_DIR, out_dir, factor, hot_group=hot_group)
        print(f"# generated {factor}x blow-up in "
              f"{time.perf_counter() - t0:.1f}s -> {out_dir}", file=sys.stderr)

    warm_dir = "/root/testdata/sf0.001"
    results: dict[str, dict] = {}
    # --store runs focus on the write path; the read-query sweep is the
    # default mode's job (run both modes for the full picture)
    focused = (store_mode or temporal_skew or winnow_mode or pipeline_mode
               or lines_mode or gopher_mode or semdedup_mode
               or graph_mode or traverse_mode or stages_mode
               or hub_mode or power_law_mode or lexidx_mode
               or ivfs_mode or vocab_mode or semstore_mode or drift_mode)
    sweep = [] if focused else [
        n for n in SCALE_QUERIES if only is None or only in n]
    for name in sweep:
        fn = QUERIES[name]
        try:  # codegen warm; never let a missing warm dir zero the artifact
            if os.path.isdir(warm_dir):
                fn(spark, warm_dir).count()
        except Exception:  # noqa: BLE001
            pass
        entry: dict[str, float | int | None] = {}
        for label, d in (("base", BASE_DIR), ("scaled", out_dir)):
            t0 = time.perf_counter()
            try:
                n = fn(spark, d).count()
            except Exception as exc:  # noqa: BLE001
                print(f"# {name}@{label}: FAILED {exc}"[:300], file=sys.stderr)
                entry[f"t_{label}"] = None
                entry[f"rows_{label}"] = None
                continue
            entry[f"t_{label}"] = round(time.perf_counter() - t0, 3)
            entry[f"rows_{label}"] = n
            print(f"# {name}@{label}: {entry[f't_{label}']}s rows={n}",
                  file=sys.stderr)
        tb, ts = entry.get("t_base"), entry.get("t_scaled")
        # factor <= 1 (smoke runs) has no defined exponent: log(1) == 0
        entry["exponent"] = (
            round(math.log(ts / tb) / math.log(factor), 3)
            if tb and ts and factor > 1 else None
        )
        results[name] = entry

    payload = {
        "metric": "scale_exponents",
        "factor": factor,
        "hot_group": hot_group,
        "base_dir": BASE_DIR,
        "queries": results,
    }

    if store_mode:
        try:
            # JVM/codegen warm-up at the smallest sf so base wall times
            # are not charged the first-run compilation tax
            if os.path.isdir(warm_dir):
                store_bench(spark, warm_dir, "warm", n_buckets=16)
            sb_base = store_bench(spark, BASE_DIR, "base")
            # production sizing rule: buckets scale with the data, keeping
            # bucket size — and therefore patch rewrite cost — constant
            sb_scaled = store_bench(
                spark, out_dir, "scaled", n_buckets=64 * factor)
            exps = {}
            for k in ("t_ingest", "t_reupsert", "t_patch", "t_edge_ingest",
                      "t_edge_reinsert"):
                tb_, ts_ = sb_base.get(k), sb_scaled.get(k)
                exps[k] = (round(math.log(ts_ / tb_) / math.log(factor), 3)
                           if tb_ and ts_ and factor > 1 else None)
            payload["store"] = {
                "base": sb_base, "scaled": sb_scaled, "exponents": exps,
            }
            print(f"# store: exponents {exps} "
                  f"amp base={sb_base['amplification']} "
                  f"scaled={sb_scaled['amplification']} "
                  f"adversarial={sb_scaled['adversarial']['amplification']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["store"] = {"error": str(exc)[:300]}
            print(f"# store: FAILED {exc}"[:300], file=sys.stderr)

    if temporal_skew:
        try:
            payload["temporal_skew"] = temporal_skew_bench(
                spark, BASE_DIR, out_dir, factor)
            print(f"# temporal_skew: "
                  f"{payload['temporal_skew']['exponents']}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["temporal_skew"] = {"error": str(exc)[:300]}
            print(f"# temporal_skew: FAILED {exc}"[:300], file=sys.stderr)

    if winnow_mode:
        try:
            payload["winnow"] = winnow_bench(spark, BASE_DIR, out_dir, factor)
            print(f"# winnow: {payload['winnow']['exponents']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["winnow"] = {"error": str(exc)[:300]}
            print(f"# winnow: FAILED {exc}"[:300], file=sys.stderr)

    if graph_mode:
        try:
            payload["graph"] = graph_bench(
                spark, BASE_DIR, out_dir, factor,
                uncapped_linkpred=uncapped_linkpred, only=only)
            print("# graph: " + str({k: v.get("exponent")
                  for k, v in payload["graph"].items()}), file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["graph"] = {"error": str(exc)[:300]}
            print(f"# graph: FAILED {exc}"[:300], file=sys.stderr)

    if stages_mode:
        try:
            payload["stages"] = pipeline_stage_bench(
                spark, BASE_DIR, out_dir, factor)
            print(f"# stages: exponents {payload['stages']['exponents']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["stages"] = {"error": str(exc)[:300]}
            print(f"# stages: FAILED {exc}"[:300], file=sys.stderr)

    if traverse_mode:
        try:
            payload["traverse"] = traverse_bench(
                spark, BASE_DIR, out_dir, factor)
            print(f"# traverse: e={payload['traverse']['exponent']} "
                  f"aqe_e={payload['traverse']['aqe_exponent']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["traverse"] = {"error": str(exc)[:300]}
            print(f"# traverse: FAILED {exc}"[:300], file=sys.stderr)

    if hub_mode:
        try:
            payload["hub"] = hub_bench(spark, factor)
            print(f"# hub: uncapped e={payload['hub']['uncapped_exponent_vs_nodes']} "
                  f"capped e={payload['hub']['capped_exponent_vs_nodes']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["hub"] = {"error": str(exc)[:300]}
            print(f"# hub: FAILED {exc}"[:300], file=sys.stderr)

    if power_law_mode:
        try:
            payload["power_law"] = power_law_bench(spark, factor)
            print(f"# power_law: {payload['power_law']['exponents']} "
                  f"max_deg base={payload['power_law']['base']['max_degree']} "
                  f"scaled={payload['power_law']['scaled']['max_degree']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["power_law"] = {"error": str(exc)[:300]}
            print(f"# power_law: FAILED {exc}"[:300], file=sys.stderr)

    if pipeline_mode:
        try:
            payload["pipeline"] = pipeline_bench(
                spark, BASE_DIR, out_dir, factor,
                substring_k=8 if "--substring" in sys.argv[1:] else None,
                all_gates=gates_mode)
            print(f"# pipeline: e={payload['pipeline']['exponent']} "
                  f"kept_match={payload['pipeline']['kept_match']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["pipeline"] = {"error": str(exc)[:300]}
            print(f"# pipeline: FAILED {exc}"[:300], file=sys.stderr)

    if semdedup_mode:
        try:
            payload["semdedup"] = semdedup_bench(
                spark, BASE_DIR, out_dir, factor)
            print(f"# semdedup: e={payload['semdedup']['exponent']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["semdedup"] = {"error": str(exc)[:300]}
            print(f"# semdedup: FAILED {exc}"[:300], file=sys.stderr)

    if gopher_mode:
        try:
            payload["gopher"] = gopher_bench(spark, BASE_DIR, out_dir, factor)
            g = payload["gopher"]
            print(f"# gopher: forms_equal={g['forms_equal']} "
                  f"hof e={g['hof']['exponent']} "
                  f"exploded e={g['exploded']['exponent']} "
                  f"winner={g['winner']} "
                  f"lang e={g['lang_id']['exponent']}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["gopher"] = {"error": str(exc)[:300]}
            print(f"# gopher: FAILED {exc}"[:300], file=sys.stderr)

    if lines_mode:
        try:
            payload["lines"] = lines_bench(spark, BASE_DIR, out_dir, factor)
            print(f"# lines: e={payload['lines']['exponent']} "
                  f"cut_match={payload['lines']['cut_match']}",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["lines"] = {"error": str(exc)[:300]}
            print(f"# lines: FAILED {exc}"[:300], file=sys.stderr)
        if incremental:
            try:
                payload["lines_incremental"] = lines_incremental_bench(
                    spark, BASE_DIR, out_dir, factor, out_root,
                    compact_every=compact_every)
                li = payload["lines_incremental"]
                print(f"# lines_incremental: wall {li['wall_first']} -> "
                      f"{li['wall_last']} (x{li['wall_ratio_last_first']}) "
                      f"cut_match={li['cut_match']}", file=sys.stderr)
            except Exception as exc:  # noqa: BLE001
                payload["lines_incremental"] = {"error": str(exc)[:300]}
                print(f"# lines_incremental: FAILED {exc}"[:300],
                      file=sys.stderr)

    if lexidx_mode:
        try:
            payload["lexidx_incremental"] = lexidx_incremental_bench(
                spark, BASE_DIR, out_dir, factor, out_root,
                compact_every=compact_every)
            li = payload["lexidx_incremental"]
            print(f"# lexidx_incremental: wall {li['wall_first']} -> "
                  f"{li['wall_last']} (x{li['wall_ratio_last_first']}) "
                  f"dirs_last={li['batches'][-1]['dirs']} "
                  f"bm25_match={li['bm25_match']} "
                  f"phrase_match={li['phrase_match']}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["lexidx_incremental"] = {"error": str(exc)[:300]}
            print(f"# lexidx_incremental: FAILED {exc}"[:300],
                  file=sys.stderr)

    if ivfs_mode:
        try:
            payload["ivfs_incremental"] = ivfs_incremental_bench(
                spark, BASE_DIR, out_dir, factor, out_root,
                compact_every=compact_every)
            iv = payload["ivfs_incremental"]
            print(f"# ivfs_incremental: wall {iv['wall_first']} -> "
                  f"{iv['wall_last']} (x{iv['wall_ratio_last_first']}) "
                  f"dirs_last={iv['batches'][-1]['dirs']} "
                  f"compact_walls={iv.get('compact_walls')} "
                  f"probe_match={iv['probe_match']}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["ivfs_incremental"] = {"error": str(exc)[:300]}
            print(f"# ivfs_incremental: FAILED {exc}"[:300],
                  file=sys.stderr)

    if semstore_mode:
        try:
            payload["semstore_incremental"] = semstore_incremental_bench(
                spark, BASE_DIR, out_dir, factor, out_root,
                compact_every=compact_every, sub_splits=sub_splits)
            sm = payload["semstore_incremental"]
            print(f"# semstore_incremental: wall {sm['wall_first']} -> "
                  f"{sm['wall_last']} (x{sm['wall_ratio_last_first']}) "
                  f"slope={sm.get('wall_slope_ms_per_batch')}ms/batch "
                  f"clusters_match={sm['clusters_match']} "
                  f"t_clusters={sm['t_clusters']} vs oneshot "
                  f"{sm['t_oneshot']}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["semstore_incremental"] = {"error": str(exc)[:300]}
            print(f"# semstore_incremental: FAILED {exc}"[:300],
                  file=sys.stderr)

    if drift_mode:
        try:
            payload["ivfs_drift"] = ivfs_drift_bench(
                spark, BASE_DIR, out_dir, factor, out_root)
            dr = payload["ivfs_drift"]
            print(f"# ivfs_drift: frozen pre/post="
                  f"{dr['recall_pre_drift_queries_frozen']}/"
                  f"{dr['recall_post_drift_queries_frozen']} "
                  f"refit pre/post="
                  f"{dr['recall_pre_drift_queries_refit']}/"
                  f"{dr['recall_post_drift_queries_refit']} "
                  f"t_refit={dr['t_refit']}s", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["ivfs_drift"] = {"error": str(exc)[:300]}
            print(f"# ivfs_drift: FAILED {exc}"[:300], file=sys.stderr)

    if vocab_mode:
        try:
            payload["vocab_growth"] = vocab_bench(
                spark, BASE_DIR, out_dir, factor)
            vg = payload["vocab_growth"]
            print(f"# vocab_growth: vocab x{vg['vocab_growth']} "
                  f"e={vg['exponent']} scaled_joins="
                  f"bhj:{vg['scaled']['broadcast_hash_joins']}/"
                  f"smj:{vg['scaled']['sort_merge_joins']}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["vocab_growth"] = {"error": str(exc)[:300]}
            print(f"# vocab_growth: FAILED {exc}"[:300], file=sys.stderr)

    if incremental:
        # failure here must not zero the already-measured exponents — same
        # per-section isolation convention as the query loop above
        import shutil
        import tempfile

        store_dir = tempfile.mkdtemp(prefix="graflo_incdedup_")
        try:
            from graflo_spark.ops.dedup import MinHashDedupStore, minhash_dedup

            docs = spark.read.parquet(f"{out_dir}/documents.parquet")
            base_docs = spark.read.parquet(f"{BASE_DIR}/documents.parquet")
            stride = int(base_docs.agg(F.max("doc_id")).first()[0]) + 1
            store = MinHashDedupStore(spark, store_dir, threshold=0.7)
            batch_walls, survivors = [], 0
            t0 = time.perf_counter()
            for r in range(factor):
                batch = docs.filter(
                    (F.col("doc_id") >= r * stride)
                    & (F.col("doc_id") < (r + 1) * stride))
                tb = time.perf_counter()
                survivors += store.dedup_batch(batch).count()
                batch_walls.append(round(time.perf_counter() - tb, 3))
            total_wall = round(time.perf_counter() - t0, 3)
            one_shot = minhash_dedup(
                base_docs, "doc_id", "text", threshold=0.7).count()
            payload["incremental"] = {
                "batches": factor,
                "total_wall": total_wall,
                "batch_walls": batch_walls,
                "survivors": survivors,
                "expected_survivors": one_shot * factor,
                "survivors_match": survivors == one_shot * factor,
            }
            print(f"# incremental: {survivors} survivors "
                  f"(expected {one_shot * factor}) in {total_wall}s",
                  file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            payload["incremental"] = {"error": str(exc)[:300]}
            print(f"# incremental: FAILED {exc}"[:300], file=sys.stderr)
        finally:
            shutil.rmtree(store_dir, ignore_errors=True)

    print(json.dumps(payload))


if __name__ == "__main__":
    main()
