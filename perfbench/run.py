#!/usr/bin/env python3
"""js_hll_spark benchmark: parquet in, answer out.

Run from the repository root:

    python3 perfbench/run.py --workload sketch_table --seed 1 --seconds 15 --trace 0

Each run starts its own local Spark session (``local[N]``, N = the cores
available unless ``--cores`` says otherwise), generates its inputs from the
seed, writes them as parquet, computes the exact answers, warms every query
shape, and then runs a closed loop with one client for ``--seconds``:
one public call plus its action, wait for the answer, check it, next.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the gated end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics, read from spans
around each public call and from Spark's per-operator SQL metrics. The lines
before it print every end-to-end figure by name with its unit, and a run
record is written under ``.perfbench/`` in the repository root.

``python3 perfbench/run.py --write-spec`` rewrites ``BENCHMARK.json`` from
``perfbench/spec.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

sys.dont_write_bytecode = True
sys.path[:0] = [HERE, ROOT]

import spec  # noqa: E402
import sqlmetrics  # noqa: E402
import tracing  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=spec.ALL_WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int,
                   default=len(os.sched_getaffinity(0)),
                   help="N of local[N] (default: cores available)")
    p.add_argument("--write-spec", action="store_true",
                   help="rewrite BENCHMARK.json and exit")
    args = p.parse_args(argv)
    if not args.write_spec and args.workload is None:
        p.error("--workload is required")
    return args


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher too: no /tmp/hsperfdata files
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.local.dir={work}/local"),
            "--conf", "spark.sql.ui.retainedExecutions=10000",
            "pyspark-shell",
        ]),
    })


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=30,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def mix_median(lat: dict[str, list[float]], weights: dict[str, int]) -> float:
    """Median latency per query shape, weighted by the shape's share of one
    cycle of the mix. With a single shape this is the plain median; with
    several it does not jump between the modes of a bimodal mix."""
    present = {s: w for s, w in weights.items() if lat.get(s)}
    total = sum(present.values())
    return sum(w * statistics.median(lat[s]) for s, w in present.items()) / total


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    return float(sorted(samples)[n - 11]), 100.0 * (n - 10) / n, n


class Runner:
    def __init__(self, spark, wl, traced: bool) -> None:
        self.spark = spark
        self.wl = wl
        self.traced = traced
        self.rss = tracing.RssProbe(spark.sparkContext._gateway.proc.pid)
        self.tracer = tracing.Tracer()
        self.jobs = tracing.JobGroups(spark)
        self.store = sqlmetrics.StatusStore(spark) if traced else None
        self.lat: dict[str, list[float]] = {}  # untraced latencies
        self.traced_lat: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.rows: dict[str, list[int]] = {}  # untraced, per shape
        self.problems: list[str] = []
        self.per_query: list[dict] = []
        self.extra_s: dict[str, list[float]] = {}  # workload's extra calls
        self.codec: dict[str, list[float]] = {}  # microseconds per sketch
        self.cycles = 0

    def warm(self) -> dict[str, list[float]]:
        """Run the workload's warm-up operations, untimed by the metrics;
        returns the seconds each took, for the run record."""
        took: dict[str, list[float]] = {}
        for op in self.wl.warmup():
            t = time.perf_counter()
            op.action(op.build())
            took.setdefault(op.shape, []).append(time.perf_counter() - t)
            self.wl.after_op()
        self.rss.sample()
        return took

    def run_op(self, op, qid: int, traced: bool) -> None:
        self.attempted += 1
        try:
            if traced:
                res, elapsed, vec = self._traced_call(op, qid)
            else:
                t = time.perf_counter()
                res = op.action(op.build())
                elapsed = time.perf_counter() - t
            problems = op.check(res)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.problems.extend(f"{op.shape}: {p}" for p in problems[:3])
        elif traced:
            self.traced_lat.setdefault(op.shape, []).append(elapsed)
            self._time_codec(op.blobs(res), qid)
            self.per_query.append({"qid": qid, "shape": op.shape,
                                   "call": op.call, "latency_s": elapsed,
                                   "layer_s": op.layer_s, "vector": vec})
        else:
            self.lat.setdefault(op.shape, []).append(elapsed)
            self.rows.setdefault(op.shape, []).append(op.rows)
        self.wl.after_op()
        self.rss.sample()

    def _traced_call(self, op, qid: int) -> tuple:
        """One operation under spans and job groups; returns its answer,
        its latency in seconds and its layer vector."""
        self.store.take_new()  # skip executions of untraced work
        gc0 = tracing.gc_ms(self.spark)
        with self.tracer.span(op.call, qid) as root:
            with self.jobs.phase(f"{op.shape} build") as jb, \
                    self.tracer.span("build", qid):
                df = op.build()
            with self.jobs.phase(f"{op.shape} action") as ja, \
                    self.tracer.span("action", qid):
                res = op.action(df)
            elapsed = time.perf_counter() - self.tracer.t0 - root["start"]
            with self.tracer.span("trace.sql_metrics", qid):
                vec = self.store.layer_vector(self.store.take_new())
        vec["jobs.build"] = jb["jobs"]
        vec["jobs.per_query"] = jb["jobs"] + ja["jobs"]
        vec["jvm.gc_ms"] = tracing.gc_ms(self.spark) - gc0
        vec["checkpoint.bytes"] = tracing.pinned_bytes(self.spark, self.wl.keep)
        return res, elapsed, vec

    def _time_codec(self, blobs: list[bytes], qid: int) -> None:
        """Driver-side codec and core cost per sketch, over the blobs the
        query returned."""
        if not blobs:
            return
        from js_hll_spark import codec

        def timed(name, fn):
            with self.tracer.span(name, qid) as s:
                out = fn()
            self.codec.setdefault(name, []).append(
                (s["end"] - s["start"]) * 1e6 / len(blobs))
            return out

        sketches = timed("codec.decode", lambda: [codec.decode(b) for b in blobs])
        timed("codec.encode", lambda: [codec.encode(s) for s in sketches])
        timed("core.estimate",
              lambda: [s.algorithm_cardinality() for s in sketches])

        def union():
            acc = sketches[0].clone()
            for s in sketches[1:]:
                acc.union(s)
            return acc

        timed("core.union", union)

    def traced_extras(self, qid: int) -> None:
        for name, call in self.wl.extra_calls():
            with self.tracer.span(name, qid) as s:
                call()
            self.extra_s.setdefault(name, []).append(s["end"] - s["start"])

    def loop(self, seconds: float) -> None:
        """Closed loop, one client: operations of the mix in order until
        ``seconds`` have passed and at least one whole cycle has run (two
        when tracing: cycles alternate untraced and traced, for the
        overhead). Latencies are summarised per shape, so a cycle cut
        short does not tilt the mix."""
        start = time.perf_counter()
        qid = i = 0
        while True:
            traced = self.traced and i % 2 == 1
            for op in self.wl.cycle(i):
                if (i > self.traced
                        and time.perf_counter() - start >= seconds):
                    self.cycles = i
                    return
                qid += 1
                self.run_op(op, qid, traced)
            if traced:
                self.traced_extras(qid)
            i += 1


def rows_per_s(r: Runner, mix: dict[str, int]) -> float | None:
    """Input rows one cycle of the mix consumes over the time it takes
    with every operation at its shape's median latency."""
    done = [s for s in mix if r.lat.get(s)]
    if not done:
        return None
    rows = sum(mix[s] * sum(r.rows[s]) / len(r.rows[s]) for s in done)
    return rows / sum(mix[s] * statistics.median(r.lat[s]) for s in done)


def end_to_end(r: Runner, setup_s: float, weights: dict[str, int],
               mix: dict[str, int]) -> dict:
    queries = {s: v for s, v in r.lat.items() if s in weights}
    pooled = [x for v in queries.values() for x in v]
    t = tail(pooled)
    out = {
        "setup_s": (setup_s, "s"),
        "query_s_p50": (mix_median(queries, weights) if queries else None, "s"),
        "rows_per_s": (rows_per_s(r, mix), "rows/s"),
        "peak_rss_mb": (r.rss.peak_mb, "MB"),
        "query_s_tail": (t[0] if t else None, "s"),
        "error_rate": (r.failed / r.attempted, "ratio"),
    }
    acc = r.wl.acc
    if acc.ndv_rel_err_max:
        out["ndv_rel_err_max"] = (acc.ndv_rel_err_max, "ratio")
    if acc.quantile_rank_err_max:
        out["quantile_rank_err_max"] = (acc.quantile_rank_err_max, "ratio")
    out.update(r.wl.report(r.lat))
    return out


def per_layer(r: Runner, weights: dict[str, int]) -> dict:
    """The per-layer vector: means per traced operation, except the medians
    and ratios README.md names."""
    n = len(r.per_query)
    vecs = [q["vector"] for q in r.per_query]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    out = {k: sum(v.get(k, 0.0) for v in vecs) / n if n else 0.0
           for k, _ in spec.PER_LAYER}
    rows_in = sum(v["spark.agg.partial_rows_in"] for v in vecs)
    out["spark.agg.partial_collapse"] = (
        sum(v["spark.agg.partial_rows_out"] for v in vecs) / rows_in
        if rows_in else 0.0)
    out["sources.noop_scan_s"] = med(r.extra_s.get("sources.noop_scan", []))
    out["pipelines.sketch_table.read_s"] = med(
        r.extra_s.get("pipelines.sketch_table.read", []))
    for name in ("codec.decode", "codec.encode", "core.union",
                 "core.estimate"):
        out[f"{name}_us"] = med(r.codec.get(name, []))
    # the traced latency of the calls a layer metric is named after
    by_layer: dict[str, list[float]] = {}
    for q in r.per_query:
        if q["layer_s"]:
            by_layer.setdefault(q["layer_s"], []).append(q["latency_s"])
    for key, xs in by_layer.items():
        out[key] = med(xs)
    for name in ("build", "action", "trace.sql_metrics"):
        key = "span.metrics_read_ms" if name == "trace.sql_metrics" \
            else f"span.{name}_ms"
        out[key] = 1e3 * sum(s["end"] - s["start"] for s in r.tracer.spans
                             if s["name"] == name) / n if n else 0.0
    traced_q = {s: v for s, v in r.traced_lat.items() if s in weights}
    plain_q = {s: v for s, v in r.lat.items() if s in weights}
    out["trace.overhead_ratio"] = (
        mix_median(traced_q, weights) / mix_median(plain_q, weights) - 1.0
        if traced_q and plain_q else 0.0)
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            f.write(spec.benchmark_json())
        return 0
    if not os.path.isdir(os.path.join(ROOT, "js_hll_spark")):
        print(f"js_hll_spark not found beside {HERE}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]
    work = os.path.join(OUT, f"run-{os.getpid()}")
    _environment(work)

    import numpy
    import pandas
    import pyarrow
    import pyspark

    from js_hll_spark.spark.session import get_spark
    from workloads import WORKLOADS

    phases = {}
    wl = WORKLOADS[args.workload](args.seed, work, args.cores)
    with ThreadPoolExecutor(1) as pool:
        inputs_done = pool.submit(wl.write_inputs)
        spark = get_spark("perfbench", master=f"local[{args.cores}]",
                          shuffle_partitions=args.cores)
        phases["session_s"] = time.perf_counter() - t_start
        inputs_done.result()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup(spark)
        phases["inputs_s"] = time.perf_counter() - t_start - phases["session_s"]
        runner = Runner(spark, wl, bool(args.trace))
        warm = runner.warm()
        setup_s = time.perf_counter() - t_start
        phases["warmup_s"] = setup_s - sum(phases.values())
        runner.loop(args.seconds)
        cycle = wl.cycle(0)
        mix = {op.shape: sum(o.shape == op.shape for o in cycle)
               for op in cycle}
        weights = {s: n for s, n in mix.items()
                   if wl.is_query(next(o for o in cycle if o.shape == s))}
        e2e = end_to_end(runner, setup_s, weights, mix)
        layers = per_layer(runner, weights) if args.trace else None
        spark_version = spark.version
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": args.cores,
        "nproc": os.cpu_count(), "load_avg_1m_start": load_start,
        "load_avg_1m_end": os.getloadavg()[0],
        "versions": {"spark": spark_version, "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__, "pandas": pandas.__version__,
                     "python": sys.version.split()[0]},
        "git_commit": _git_commit(),
        "setup_phases_s": phases,
        "warmup_s": warm,
        "input_rows": wl.rows_in_inputs,
        "samples": {"query_s_p50": {s: len(runner.lat.get(s, []))
                                    for s in weights},
                    "cycles": runner.cycles,
                    "latencies_s": runner.lat,
                    "traced_shapes": {s: len(v) for s, v in
                                      runner.traced_lat.items()},
                    "query_s_tail": tail([x for s in weights
                                          for x in runner.lat.get(s, [])])},
        "attempted": runner.attempted, "failed": runner.failed,
        "problems": runner.problems[:20],
    }
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    doc = {"record": record,
           "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}
    if args.trace:
        doc["per_layer"] = layers
        doc["self_s"] = runner.tracer.self_times()
        doc["queries"] = runner.per_query
        doc["spans"] = runner.tracer.spans
    with open(stem + ".json", "w") as f:
        json.dump(doc, f, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} cores={args.cores} "
          f"attempted={runner.attempted} failed={runner.failed} "
          f"record={os.path.relpath(stem + '.json', ROOT)}")
    for name, unit in [(n, u) for n, u, _, _ in spec.END_TO_END] + spec.REPORTED:
        value = e2e.get(name, (None, unit))[0]
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"#   {name:<24} {shown:>14} {unit}")
    if args.trace:
        print("# self time per span, s (tracing overhead: "
              f"{layers['trace.overhead_ratio']:+.3f} of query_s_p50)")
        for name, sec in sorted(doc["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"#   {name:<48} {sec:10.4f}")
    for p in runner.problems[:10]:
        print(f"# problem: {p.strip().splitlines()[-1]}")

    if args.trace:
        metrics = {n: {"value": layers[n], "unit": u} for n, u in spec.PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n][0], "unit": u}
                   for n, u, _, _ in spec.END_TO_END}
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
