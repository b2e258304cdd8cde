"""Physical-plan audit: dump `.explain(formatted)` for the bench headline
queries and grade each plan against the scale checklist (SURVEY §4 /
README "Scale design"):

    - filters reach the parquet scan (PushedFilters);
    - scans read only referenced columns (ReadSchema width);
    - dimension joins broadcast (BroadcastHashJoin), fact joins shuffle at
      most once (SortMergeJoin/ShuffledHashJoin count);
    - expressions stay inside WholeStageCodegen (no CodegenFallback);
    - no Python row-at-a-time ops in the hot path (BatchEvalPython);
      Arrow-batched python (ArrowEvalPython / mapInPandas) is the sanctioned
      escape hatch and is flagged informationally.

Writes PLANS.md. Usage:

    python3 tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, ".")

HEADLINES = [
    "graph_type_counts",
    "analytics_pricing_summary",
    "analytics_top_orders_revenue",
    "analytics_nation_volume",
    "traverse_2hop_customers",
    "dedup_exact_documents",
    "minhash_dedup_documents",
    "text_stats_documents",
    "window_tumbling_sliding_events",
    "near_dup_clusters_documents",
    "ann_topk_embeddings",
    "decontam_overlap_documents",
    "pack_chunks_documents",
    "temporal_ops_events",
    # round 5 graph analytics + text/LM headliners
    "pagerank_trade_network",
    "ppr_trade_network",
    "hits_trade_network",
    "lpa_communities_trade",
    "sssp_trade_network",
    "kcore_copurchase",
    "triangle_corners_copurchase",
    "link_prediction_copurchase",
    "bigram_entropy_documents",
    "lm_cross_entropy_documents",
    "ccnet_buckets_documents",
    # round 7: distributed BPE encode against the frozen merge table
    "bpe_encode_documents",
    # round 8: frozen-constant PQ/ADC + SemDeDup + portable sampling rows,
    # line-level dedup scrub, Gopher quality gates
    "pq_adc_topk_embeddings",
    "semdedup_clusters_embeddings",
    "sampling_split_mix_documents",
    "dup_substring_spans_documents",
    "dedup_lines_documents",
    "gopher_rules_documents",
    # round 9: fastText-style hashed-ngram quality classifier + BM25 + PCA
    "quality_clf_documents",
    "bm25_topk_documents",
    "pca_topk_embeddings",
    "c4_clean_documents",
    "vocab_stats_documents",
    "sliding_chunks_documents",
    "hybrid_rrf_documents",
    "mean_pool_embeddings",
    "phrase_topk_documents",
    # round 10/11: dense+sparse fusion, maintained dense index, whole-doc
    # bin packing
    "hybrid_dense_sparse_search",
    "ivfs_topk_embeddings",
    "pack_bins_documents",
]


# Run-specific plan tokens: expression ids (``doc_id#845L``), RDD ids with
# the call site that made the RDD, and temp index directories. They change
# on every run, so they are masked before PLANS.md is written and a
# regeneration's diff shows only real plan drift.
_VOLATILE = [
    (re.compile(r"(?<=[\w)])#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\] at (\w+) at [^,\]\s]+"), r"RDD[N] at \1"),
    (re.compile(r"graflo_idx_\w+"), "graflo_idx_*"),
]


def mask_volatile(text: str) -> str:
    for pattern, repl in _VOLATILE:
        text = pattern.sub(repl, text)
    return text


def formatted_plan(df) -> str:
    from pyspark.sql.session import SparkSession

    jvm = SparkSession.getActiveSession()._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def grade(plan: str) -> list[str]:
    # formatted mode prints each node in the tree AND as a numbered detail
    # "(n) NodeName"; count the numbered details so nodes count once
    def n_nodes(name: str) -> int:
        return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))

    notes: list[str] = []
    n_scans = n_nodes("Scan parquet")
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    bhj = n_nodes("BroadcastHashJoin") + n_nodes("BroadcastNestedLoopJoin")
    smj = n_nodes("SortMergeJoin")
    shj = n_nodes("ShuffledHashJoin")
    cart = n_nodes("CartesianProduct")
    exch = n_nodes("Exchange")
    reuse = n_nodes("ReusedExchange")
    if cart:
        notes.append(f"!! CartesianProduct x{cart} — unbounded all-pairs shuffle")
    fallback = plan.count("CodegenFallback")
    py_row = plan.count("BatchEvalPython")
    py_arrow = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
    notes.append(
        f"scans={n_scans} (pushed-filter scans={pushed}) · "
        f"joins: broadcast={bhj} shuffled={smj + shj} · "
        f"exchanges={exch} (reused={reuse})"
    )
    if py_row:
        notes.append(f"!! BatchEvalPython x{py_row} — row-at-a-time Python in plan")
    if fallback:
        notes.append(f"!! CodegenFallback x{fallback} — interpreted expression")
    if py_arrow:
        notes.append(f"Arrow-batched Python x{py_arrow} (sanctioned escape hatch)")
    wide = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    widths = [len(w.split(",")) if w else 0 for w in wide]
    if widths:
        notes.append(f"scan column widths: {widths}")
    return notes


def traversal_hop_section(spark, sf_dir: str) -> str:
    """Per-hop BFS join plans. The traversal checkpoints every hop except
    the last, so those hop joins — where the broadcast-vs-shuffle decision
    lives — execute during construction, and the last hop runs inside the
    job that materializes the merged result (``finish``). ``plan_sink``
    captures each hop's FINAL adaptive plan right after the job that ran
    it: an earlier hop's from its eager checkpoint, the last hop's from the
    ``finish`` job (the whole merged plan, once per type the hop
    reached)."""
    from graflo_spark.catalog import star_view
    from graflo_spark.query import Direction

    sink: list[str] = []
    view = star_view(spark, sf_dir)
    view.neighbors(
        "customer",
        {"field": "c_custkey", "op": "IN", "value": [1, 2, 3]},
        hops=2,
        direction=Direction.OUT,
        plan_sink=sink,
    )
    out = io.StringIO()
    out.write("\n## traverse per-hop joins (2-hop OUT from 3 customers)\n\n")
    for plan in sink:
        header, body = plan.split("\n", 1)
        final = "isFinalPlan=true" in body
        joins = re.findall(r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", body)
        out.write(
            f"- {header.lstrip('- ')} · AQE final plan: {final} · "
            f"joins: {sorted(set(joins)) or ['none']}\n"
        )
    out.write(
        "\nBelow threshold (frontier rows <= BROADCAST_FRONTIER_MAX_ROWS) the\n"
        "probe side carries an explicit broadcast hint; above it the hint is\n"
        "dropped and AQE picks the strategy from the checkpointed frontier's\n"
        "real stats, so an unbounded frontier can never force an executor-OOM\n"
        "broadcast. First hop tree:\n\n```\n"
    )
    if sink:
        out.write(sink[0].split("\n\n")[0].strip() + "\n")
    out.write("```\n")
    return out.getvalue()


def pipeline_section(spark, sf_dir: str) -> str:
    """Plan grade for the composed training-data pipeline (annotate over
    the documents table with a self-derived benchmark)."""
    from pyspark.sql import functions as F

    from graflo_spark.ops.pipeline import PipelineConfig, annotate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    ann = annotate(docs, bench, PipelineConfig())
    plan = formatted_plan(ann)
    out = io.StringIO()
    out.write("\n## ops.pipeline.annotate (composed training-data pipeline)\n\n")
    for n in grade(plan):
        out.write(f"- {n}\n")
    ann.collect()
    final = ann._jdf.queryExecution().executedPlan().toString()
    reuse = final.count("ReusedExchange")
    out.write(f"- runtime (AQE final plan): ReusedExchange x{reuse}\n")
    return out.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or HEADLINES

    from graflo_spark.catalog import ALL_QUERIES as QUERIES
    from graflo_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan audit of the bench headline queries\n\n"
        f"Generated by `tools/explain_audit.py` at `{sf_dir}`. Checklist: filters\n"
        "pushed to scans, pruned read schemas, broadcast dimension joins, codegen\n"
        "coverage, no row-at-a-time Python. `!!` marks a violation worth fixing.\n"
    )
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = formatted_plan(df)
        out.write(f"\n## {name}\n\n")
        for n in grade(plan):
            out.write(f"- {n}\n")
        # static plans under-report exchange reuse: AQE's ReuseExchange fires
        # at runtime in the final adaptive plan (e.g. pack_chunks' totals
        # branch). Execute and grade the final plan's reuse honestly.
        try:
            # collect(), not count(): count() builds a SEPARATE aggregate
            # plan, leaving this df's own query execution un-finalized
            df.collect()
            final = df._jdf.queryExecution().executedPlan().toString()
            runtime_reuse = final.count("ReusedExchange")
            if runtime_reuse:
                out.write(
                    f"- runtime (AQE final plan): ReusedExchange x{runtime_reuse}\n"
                )
        except Exception as exc:  # noqa: BLE001 — audit must not abort
            out.write(f"- runtime grade failed: {type(exc).__name__}\n")
        out.write("\n```\n")
        # physical plan section only (ops tree + per-node details get long;
        # keep the tree and the scan details, which carry the evidence)
        tree = plan.split("\n\n")[0]
        details = "\n\n".join(
            seg for seg in plan.split("\n\n")[1:]
            if seg.lstrip().startswith("(1) Scan") or "PushedFilters" in seg
        )
        out.write(tree.strip() + "\n")
        if details:
            out.write("\n" + details.strip() + "\n")
        out.write("```\n")
        print(f"audited {name}")

    if "traverse_2hop_customers" in names:
        out.write(traversal_hop_section(spark, sf_dir))
        print("audited traverse per-hop joins")

    if not sys.argv[2:]:  # full audit also grades the composed pipeline
        out.write(pipeline_section(spark, sf_dir))
        print("audited ops.pipeline.annotate")

    if sys.argv[2:] and os.path.exists("PLANS.md"):
        # targeted run: MERGE into the existing audit instead of replacing
        # the whole file with one section (the r9 footgun: a single-query
        # invocation silently dropped the other 34 sections)
        with open("PLANS.md") as f:
            existing = f.read()
        for name in names:
            section = _extract_section(out.getvalue(), name)
            old = _extract_section(existing, name)
            if old:
                existing = existing.replace(old, section)
            else:
                existing = existing.rstrip("\n") + "\n" + section
        merged = existing
    else:
        merged = out.getvalue()
    with open("PLANS.md", "w") as f:
        f.write(mask_volatile(merged))
    print("wrote PLANS.md")
    return 0


def _extract_section(text: str, name: str) -> str:
    """The `## name` section of a PLANS.md-shaped document, up to the next
    `## ` header (empty string when absent)."""
    m = re.search(rf"(?ms)^## {re.escape(name)}\n.*?(?=^## |\Z)", text)
    return m.group(0) if m else ""


if __name__ == "__main__":
    raise SystemExit(main())
