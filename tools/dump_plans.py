"""Dump `.explain("formatted")` for named headline queries into
plans/<tag>/<query>_<suffix>.txt (the optimization-round evidence files).

Usage: python3 tools/dump_plans.py <tag> <suffix> [query ...]
   e.g. python3 tools/dump_plans.py r14 before pagerank_trade_network
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_str(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


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
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)", flush=True)


if __name__ == "__main__":
    main()
