"""Dump `.explain("formatted")` for named headline queries into
plans/<tag>/<query>_<suffix>.txt (the optimization-round evidence files).

Iterative queries (pagerank/lpa/cc inside near_dup) return a checkpointed
RDD scan whose final explain hides the per-round work; for those this tool
ALSO dumps a representative ROUND plan built with checkpoint=False over
sf0.001 inputs (full lineage, one plan containing every round).

Usage: python3 tools/dump_plans.py <tag> <suffix> [query ...]
   e.g. python3 tools/dump_plans.py r14 before pagerank_trade_network
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMALL = "/root/testdata/sf0.001"


def explain_str(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def round_plan(spark, name: str) -> str | None:
    """Full-lineage plan (checkpoint=False) for the iterative queries, at
    sf0.001 so the unrolled plan stays printable."""
    from graflo_spark import catalog as C
    from graflo_spark.ops import dedup as dd, graphalgo as ga
    from pyspark.sql import functions as F

    if name in ("pagerank_trade_network", "ppr_trade_network"):
        seeds = [0, 7] if name.startswith("ppr") else None
        # driver_collapse_max_edges=0: document the distributed ROUND
        # plan, not the small-graph driver fast path
        pr = ga.pagerank(C._trade_edge_frame(spark, SMALL), max_iter=2,
                         tol=None, personalized=seeds, checkpoint=False,
                         driver_collapse_max_edges=0)
        return explain_str(pr)
    if name == "lpa_communities_trade":
        lp = ga.label_propagation(
            C._trade_edge_frame(spark, SMALL), max_iter=1, checkpoint=False,
            driver_collapse_max_edges=0)
        return explain_str(lp)
    if name == "near_dup_clusters_documents":
        docs = C.load(spark, SMALL, "documents")
        nonnull = docs.filter(F.col("text").isNotNull())
        cand = dd._candidates_from_sigs(
            dd._rep_signatures(nonnull, "doc_id", "text"), 64, 16)
        verified = cand.filter(F.col("est_jaccard") >= 0.7).select(
            "id_a", "id_b")
        # driver_collapse_max_edges=0 forces the distributed star rounds:
        # this dump documents the ROUND plan, not the small-graph
        # union-find fast path
        cc = ga.connected_components(verified, max_iter=1, checkpoint=False,
                                     driver_collapse_max_edges=0)
        try:
            return explain_str(cc)
        except Exception as exc:  # max_iter=1 may raise no-convergence
            return f"(round-plan capture failed: {exc})"
    return None


def main() -> None:
    tag, suffix, *names = sys.argv[1:]
    from graflo_spark.catalog import ALL_QUERIES as QUERIES
    from graflo_spark.session import get_spark

    spark = get_spark("graflo-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        txt = explain_str(df)
        rp = None
        try:
            rp = round_plan(spark, name)
        except Exception as exc:  # noqa: BLE001
            rp = f"(round-plan capture failed: {exc})"
        if rp:
            txt += ("\n\n==== representative ROUND plan (checkpoint=False, "
                    "sf0.001, reduced iterations) ====\n" + rp)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)", flush=True)


if __name__ == "__main__":
    main()
