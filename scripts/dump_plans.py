"""Dump .explain('formatted') for named declared queries into
plans/<round>/<query>_<suffix>.txt — an optimization round's
before/after plan evidence.

    python scripts/dump_plans.py --round r13 before q1 q2 ...
    python scripts/dump_plans.py --round r13 after q1 q2 ...

Uses the bench session shape (local[32], shuffle.partitions=32, AQE on)
so the captured plans match what bench.py executes. explain() itself
runs no jobs, but building some queries runs bounded control-plane
actions (barrier checkpoints, centroid fetches) — run on a quiet-ish box.
"""

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--round", required=True, help="plans/ subdirectory, e.g. r13")
    p.add_argument("suffix", help="file-name suffix, e.g. before or after")
    p.add_argument("names", nargs="+", metavar="query")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"{args.round}-plans")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from duckdb_behavioral_spark.registry import all_queries

    queries = all_queries()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)
    for name in args.names:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
