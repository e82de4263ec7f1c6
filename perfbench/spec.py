"""Workload and metric names: the single source of BENCHMARK.json."""

from __future__ import annotations

import json

COMMAND = ["python3", "perfbench/run.py"]
RUN_SECONDS = 15

WORKLOADS = [
    ("sketch_table", "stored sketch table: one merge_into_sketch_table write "
     "then 8 query_sketch_table rollups per cycle, where codec, union and "
     "estimate dominate the reads and the write runs the keyed register path"),
    ("companion_sketches", "raw values cross Arrow into the sketch_agg "
     "harness: heavy_hitters over tokens, then KLL and t-digest quantiles "
     "by lang"),
]

# runnable with --workload but left out of BENCHMARK.json, which fits only
# two workloads in its time budget at this host's speed (see README.md):
# ndv_scan, the unkeyed flagship hll_ndv over the parquet pages table, and
# grouped_sketch, keyed hll_sketch by (lang, day) alternating with hll_ndv
# by lang. The two kept cover every layer between them.
EXTRA_WORKLOADS = ["ndv_scan", "grouped_sketch"]
ALL_WORKLOADS = [n for n, _ in WORKLOADS] + EXTRA_WORKLOADS

# (name, unit, better, bound): gated, printed with --trace 0. Runs of the
# same code on this class of host spread by 10-20% (a single-threaded
# numpy sort alone varies by 13% on an idle box), so every bound is the
# largest a bound may be
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("query_s_p50", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
]

# end-to-end figures printed in the report but not gated: each spreads too
# far between runs of the same code, is zero or set by the seed rather than
# by the code's speed, or exists on one workload only (see README.md)
REPORTED = [
    ("peak_rss_mb", "MB"), ("query_s_tail", "s"), ("merge_s_p50", "s"),
    ("error_rate", "ratio"),
    ("ndv_rel_err_max", "ratio"), ("quantile_rank_err_max", "ratio"),
    ("topk_recall", "ratio"), ("sketch_table_bytes", "bytes"),
]

_PY = [(f"python.{op}.{m}", u) for op in ("map_in_pandas", "flat_map_groups",
                                          "arrow_eval")
       for m, u in (("rows_in", "count"), ("bytes_in", "bytes"),
                    ("bytes_out", "bytes"), ("exec_ms", "ms"))]

# (name, unit): per query means unless the README says otherwise,
# printed with --trace 1
PER_LAYER = [
    ("sources.scan_rows", "count"), ("sources.scan_files", "count"),
    ("sources.scan_ms", "ms"), ("sources.noop_scan_s", "s"),
    ("spark.agg.codegen_ms", "ms"), ("spark.agg.partial_rows_out", "count"),
    ("spark.agg.partial_collapse", "ratio"),
    ("spark.agg.partial_build_ms", "ms"), ("spark.agg.spill_bytes", "bytes"),
    ("shuffle.records", "count"), ("shuffle.bytes", "bytes"),
    ("shuffle.write_ms", "ms"), ("shuffle.fetch_wait_ms", "ms"),
    ("shuffle.task_skew", "ratio"),
    ("python.init_ms", "ms"), ("python.start_ms", "ms"), *_PY,
    ("codec.decode_us", "us"), ("codec.encode_us", "us"),
    ("core.union_us", "us"), ("core.estimate_us", "us"),
    ("pipelines.sketch_table.merge_s", "s"),
    ("pipelines.sketch_table.query_s", "s"),
    ("pipelines.sketch_table.read_s", "s"),
    ("write.files", "count"), ("write.bytes", "bytes"), ("write.ms", "ms"),
    ("spark.sketch_agg.heavy_hitters_s", "s"),
    ("spark.sketch_agg.quantiles_s", "s"), ("checkpoint.bytes", "bytes"),
    ("jobs.build", "count"), ("jobs.per_query", "count"),
    ("jvm.gc_ms", "ms"),
    ("span.build_ms", "ms"), ("span.action_ms", "ms"),
    ("span.metrics_read_ms", "ms"), ("trace.overhead_ratio", "ratio"),
]


def benchmark_json() -> str:
    doc = {
        "command": COMMAND,
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": "lower"}
                      for n, u in PER_LAYER],
    }
    return json.dumps(doc, indent=2) + "\n"
