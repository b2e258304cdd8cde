"""Sub-stage profile of the minhash_dedup / near_dup_clusters rows
(guide §1.4 noop sink): time each pipeline term in isolation so the
round's optimization effort lands on the dominant one.

Usage: python3 tools/profile_minhash.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    from pyspark.sql import functions as F

    from graflo_spark.catalog import load
    from graflo_spark.ops import dedup as dd
    from graflo_spark.session import get_spark

    spark = get_spark("graflo-prof-minhash")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def reps(df):
        return dd._rep_signatures(
            df.filter(F.col("text").isNotNull()), "doc_id", "text")

    stages = {
        "scan_documents": lambda df: df,
        "signatures(arrow md5)": lambda df: dd.minhash_signatures(
            df.filter(F.col("text").isNotNull()), "doc_id", "text"),
        "rep_signatures(sig-first collapse)": reps,
        "banded(explode only)": lambda df: dd._banded(reps(df), 64, 16),
        "candidates(full: band join+dedup+hydrate+agree)": lambda df:
            dd._candidates_from_sigs(reps(df), 64, 16),
        "minhash_dedup(end to end)": lambda df: dd.minhash_dedup(
            df, "doc_id", "text", threshold=0.7),
        "near_dup_clusters(end to end)": lambda df:
            dd.minhash_near_dup_clusters(
                df, "doc_id", "text", threshold=0.7),
    }

    # warm once at sf0.001
    warm = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for name, fn in stages.items():
        try:
            noop(fn(warm))
        except Exception as e:
            print(f"warm {name}: {type(e).__name__} {e}", file=sys.stderr)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    print(f"{'stage':48s}" + "".join(f"  rep{i+1:>2d}" for i in range(REPS)))
    for name, fn in stages.items():
        ts = []
        for _ in range(REPS):
            sc.setJobDescription(f"prof: {name}")
            ts.append(noop(fn(docs)))
        print(f"{name:48s}" + "".join(f" {t:6.2f}" for t in ts))
    sc.setJobDescription(None)


if __name__ == "__main__":
    main()
