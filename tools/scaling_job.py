"""The spark-submit job used for the two-cluster-size scaling evidence
(BASELINE.json north rule; sandbox protocol in SURVEY.md §6).

Usage:
    spark-submit --master local[N] --py-files /tmp/js_hll_spark_pkg.zip \
        tools/scaling_job.py <input_parquet> <cores>

Runs the flagship workload — NDV(url) global + per lang + per day, heavy
hitter tokens — on the SAME pre-generated input at whatever parallelism
the master provides, and prints one JSON line with wall time and docs/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession, functions as F


def main(input_path: str, cores: int) -> None:
    spark = (
        SparkSession.builder.appName(f"scaling-{cores}")
        .config("spark.sql.shuffle.partitions", str(max(8, cores)))
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from js_hll_spark.spark.agg import hll_ndv, hll_sketch
    from js_hll_spark.spark.sketch_agg import heavy_hitters

    pages = spark.read.parquet(input_path)
    n_rows = pages.count()

    def replicate(df, r):
        # sustained-throughput amplification: scan the same input r times
        # (identical NDV result; r is part of the fixed workload so both
        # cluster sizes do identical work)
        out = df
        for _ in range(r - 1):
            out = out.unionByName(df)
        return out

    # scan-replication amplifies short Catalyst-register runtimes so
    # timings are sustained-throughput, not overhead
    R_NDV = int(os.environ.get("SCALING_REPL_NDV", 6))
    R_GROUPED = int(os.environ.get("SCALING_REPL_GROUPED", 3))

    def run_ndv():
        return hll_ndv(
            replicate(pages, R_NDV), "url", log2m=13
        ).first()["ndv"]

    def run_grouped():
        hll_sketch(
            replicate(pages, R_GROUPED).withColumn("day", F.to_date("warc_ts")),
            "url",
            by=["lang", "day"],
            log2m=13,
        ).collect()

    def run_tokens():
        heavy_hitters(
            pages.select(F.explode(F.split(F.lower("text"), " ")).alias("tok")),
            "tok",
            k=20,
            width=16384,
        ).collect()

    # one untimed warm-up per phase on a small slice: JIT + python-worker
    # daemon startup is per-JVM fixed cost, not throughput — a real cluster
    # job amortizes it over hours
    warm = spark.read.parquet(input_path).limit(200_000).cache()
    warm.count()
    hll_ndv(warm, "url", log2m=13).first()
    hll_sketch(warm.withColumn("day", F.to_date("warc_ts")), "url",
               by=["lang", "day"], log2m=13).collect()
    heavy_hitters(
        warm.select(F.explode(F.split(F.lower("text"), " ")).alias("tok")),
        "tok", k=20, width=16384).collect()
    warm.unpersist()

    def median3(fn):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return sorted(times)[1]

    ndv_global = run_ndv()
    t_ndv = median3(run_ndv)
    t_grouped = median3(run_grouped)
    t_tokens = median3(run_tokens)

    total = t_ndv + t_grouped + t_tokens
    print(
        json.dumps(
            {
                "cores": cores,
                "rows": n_rows,
                "ndv_global": ndv_global,
                "t_ndv": round(t_ndv, 3),
                "t_grouped": round(t_grouped, 3),
                "t_tokens": round(t_tokens, 3),
                "t_total": round(total, 3),
                "docs_per_sec": round((n_rows * (R_NDV + R_GROUPED + 1)) / total, 1),
                "docs_per_sec_ndv": round(n_rows * R_NDV / t_ndv, 1),
                "replication": {"ndv": R_NDV, "grouped": R_GROUPED},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
