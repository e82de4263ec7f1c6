"""The workloads: set-up, the closed-loop query mix, answer checks.

Each workload builds its inputs from the seed, writes them as parquet,
computes exact answers from the generating arrays, and then offers a
fixed mix of operations. An operation is one public call that builds a
DataFrame plus the action that produces its answer; ``check`` returns the
problems found with an answer (an empty list means the answer is right).
"""

from __future__ import annotations

import datetime as dt
import math
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

from js_hll_spark.pipelines.sketch_table import (
    build_sketch_table,
    merge_into_sketch_table,
    query_sketch_table,
    read_sketch_table,
)
from js_hll_spark.sources.catalog import read_pages
from js_hll_spark.spark.agg import hll_ndv, hll_sketch
from js_hll_spark.spark.blocks import unpersist_blocks
from js_hll_spark.spark.sketch_agg import approx_quantiles, heavy_hitters

import inputs
from inputs import LANGS

PAGES_ROWS = 600_000
DOCS_ROWS = 50_000
LOG2M = 13
M = 1 << LOG2M
# Every answer must equal the estimate of its reference registers (see
# inputs.py); that check is exact. The bound against the exact count only
# keeps the reference itself honest, so it must not fire on a correct
# sketch in any of the thousands of answers many runs check: five
# standard errors of a log2m=13 HLL estimate (at three, about one
# correct answer in 300 fails; a day's 42,152 urls once read -3.68%)
NDV_TOL = 5 * 1.04 / math.sqrt(M)
# js-hll's estimator has no bias correction: between 2m and 5m distinct
# values it switches from linear counting to the raw estimate, whose bias
# there reaches +3.5% while the spread of the two branches doubles the
# standard error (400 trials per n with the package's numpy HLL at
# log2m=13: 20% of correct answers at n = 2.44m miss the 3-sigma bound)
HUMP_EXTRA = 0.04
TOPK = 20
CMS_WIDTH = 8192
QS = (0.5, 0.9, 0.99)
# KLL k=200 and t-digest compression 100 (the library defaults): two times
# the 1.65% normalised rank error of a k=200 KLL sketch
RANK_TOL = 0.033
DAY0 = dt.date(2026, 1, 1)


def ndv_tolerance(exact: int) -> float:
    return NDV_TOL + (HUMP_EXTRA if 2 * M <= exact <= 5 * M else 0.0)


@dataclass
class Op:
    shape: str  # query shape; latencies are summarised per shape
    call: str  # the public function, module-qualified (span name)
    rows: int  # input rows the call consumes
    build: Callable[[], Any]  # builds the DataFrame (lazy unless documented)
    action: Callable[[Any], Any]  # runs it and returns the answer
    check: Callable[[Any], list[str]]
    blobs: Callable[[Any], list[bytes]] = lambda res: []
    layer_s: str | None = None  # per-layer metric fed by the traced latency


@dataclass
class Accuracy:
    """Worst errors seen over every answer checked in the run."""
    ndv_rel_err_max: float = 0.0
    quantile_rank_err_max: float = 0.0
    topk_recall_min: float | None = None
    first: dict = field(default_factory=dict)  # answer identity across repeats

    def ndv(self, got: dict, truth: dict, tag: str) -> list[str]:
        """``truth`` maps each group to (exact NDV, reference estimate)."""
        problems = []
        if set(got) != set(truth):
            problems.append(f"{tag}: groups {sorted(set(got) ^ set(truth))[:5]} "
                            "differ from the exact answer")
        for key in got.keys() & truth.keys():
            exact, ref = truth[key]
            if not math.isclose(got[key], ref, rel_tol=1e-9):
                problems.append(f"{tag} {key}: ndv {got[key]!r} differs from "
                                f"{ref!r}, the estimate of the registers of "
                                f"the exact set of {exact} hashes")
            err = abs(got[key] - exact) / exact
            self.ndv_rel_err_max = max(self.ndv_rel_err_max, err)
            tol = ndv_tolerance(exact)
            if err > tol:
                problems.append(f"{tag} {key}: ndv {got[key]:.1f} vs exact "
                                f"{exact} (rel err {err:.4f} > {tol:.4f})")
        return problems

    def repeat(self, tag: str, answer) -> list[str]:
        """Repeated answers within a run must be bit-identical."""
        prev = self.first.setdefault(tag, answer)
        return [] if prev == answer else [f"{tag}: answer differs from its "
                                          "first evaluation in this run"]


def _day(d) -> int:
    return (d - DAY0).days


class Workload:
    name = ""
    rows_in_inputs: dict[str, int]

    def __init__(self, seed: int, work: str, cores: int) -> None:
        self.spark = None
        self.seed = seed
        self.work = work
        self.cores = cores
        self.acc = Accuracy()
        self.rng = np.random.default_rng([seed, 3])
        self.keep = frozenset()  # persistent RDDs that are inputs, not garbage

    def write_inputs(self) -> None:
        """Generate the inputs, write them as parquet and keep the exact
        answers. Uses no Spark, so it runs beside the session start."""
        raise NotImplementedError

    def setup(self, spark) -> None:
        """Spark-side set-up; the default only records the session."""
        self.spark = spark

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def warmup(self) -> list[Op]:
        """Untimed operations before the loop: one whole cycle, unless the
        JIT needs more."""
        return self.cycle(0)

    def noop_scan(self) -> None:
        """Read the workload's input columns into Spark's no-op sink."""
        raise NotImplementedError

    def extra_calls(self) -> list[tuple[str, Callable[[], Any]]]:
        """Calls a traced cycle times on their own, after its operations."""
        return [("sources.noop_scan", self.noop_scan)]

    def after_op(self) -> None:
        # retired localCheckpoint blocks slow later queries in one JVM
        unpersist_blocks(self.spark, self.keep)

    def is_query(self, op: Op) -> bool:
        """Whether ``op`` counts toward query_s_p50 and query_s_tail."""
        return True

    def report(self, latencies: dict[str, list[float]]) -> dict:
        """Workload-specific end-to-end figures that are not gated."""
        return {}


# ----------------------------------------------------------------- pages --


class _PagesWorkload(Workload):
    def write_inputs(self) -> None:
        self.path = os.path.join(self.work, "pages")
        self.urls_path = os.path.join(self.work, "urls.parquet")
        self.truth = inputs.write_pages(self.seed, PAGES_ROWS, self.path,
                                        self.urls_path)
        self.rows_in_inputs = {"pages": PAGES_ROWS}

    def setup(self, spark) -> None:
        super().setup(spark)
        # the reference sketches' hashes: Spark's xxhash64 (seed 42), as the
        # package's default hash_method, of every distinct url
        urls = spark.read.parquet(self.urls_path).select(
            "canon", F.xxhash64("url").alias("h")).toPandas()
        self.truth.set_hashes(urls["canon"].to_numpy(),
                              urls["h"].to_numpy().view(np.uint64), LOG2M)
        # listed once: the file index is built here, not on every query
        self.pages = read_pages(self.spark, self.path)

    def noop_scan(self) -> None:
        self.pages.select("url", "lang", "day").write.format("noop") \
            .mode("overwrite").save()

    def ndv_op(self, by: list[str]) -> Op:
        truth = self.truth.ndv(by)
        tag = f"hll_ndv by {by}"

        def check(rows) -> list[str]:
            got = {tuple(r[k] for k in by): r["ndv"] for r in rows}
            return (self.acc.ndv(got, truth, tag)
                    + self.acc.repeat(tag, sorted(got.items())))

        return Op(f"hll_ndv{'_by_' + '_'.join(by) if by else ''}",
                  "spark.agg.hll_ndv", PAGES_ROWS,
                  lambda: hll_ndv(self.pages, "url", by=by, log2m=LOG2M),
                  lambda df: df.collect(), check)


class NdvScan(_PagesWorkload):
    name = "ndv_scan"

    def cycle(self, i: int) -> list[Op]:
        return [self.ndv_op([])]

    def warmup(self) -> list[Op]:
        # after the first call the JIT keeps speeding this query up: the
        # next three still run up to twice the steady latency
        return self.cycle(0) * 4


class GroupedSketch(_PagesWorkload):
    name = "grouped_sketch"

    def setup(self, spark) -> None:
        super().setup(spark)
        self.truth_ld = self.truth.ndv(["lang", "day"])
        self.rows_ld = self.truth.rows_by_lang_day()

    def sketch_op(self) -> Op:
        def check(rows) -> list[str]:
            got = {(r["lang"], _day(r["day"])): r["ndv"] for r in rows}
            seen = {(r["lang"], _day(r["day"])): r["rows_seen"] for r in rows}
            problems = self.acc.ndv(got, self.truth_ld, "hll_sketch")
            if seen != self.rows_ld:
                problems.append("hll_sketch: rows_seen differs from the "
                                "exact row counts")
            blobs = sorted(((r["lang"], _day(r["day"])), bytes(r["sketch"]),
                            r["ndv"]) for r in rows)
            return problems + self.acc.repeat("hll_sketch", blobs)

        return Op("hll_sketch_by_lang_day", "spark.agg.hll_sketch", PAGES_ROWS,
                  lambda: hll_sketch(self.pages, "url", by=["lang", "day"],
                                     log2m=LOG2M),
                  lambda df: df.collect(), check,
                  lambda rows: [bytes(r["sketch"]) for r in rows])

    def cycle(self, i: int) -> list[Op]:
        return [self.sketch_op(), self.ndv_op(["lang"])]


class SketchTable(_PagesWorkload):
    name = "sketch_table"

    def setup(self, spark) -> None:
        super().setup(spark)
        self.table = os.path.join(self.work, "sketches")
        build_sketch_table(self.pages, "url", self.table,
                           partition_col="day", by=["lang"], log2m=LOG2M)
        self.rows_ld = self.truth.rows_by_lang_day()
        self.day_order = self.rng.permutation(inputs.N_DAYS)
        # the fixed rollup mix; the seed picks its languages and days
        langs = self.rng.choice(LANGS[:5], 3, replace=False)
        starts = self.rng.integers(0, inputs.N_DAYS - 6, 3)
        days = self.rng.choice(inputs.N_DAYS, 2, replace=False)
        self.rollups = [([], None, None), (["lang"], None, None),
                        (["day"], None, None)]
        self.rollups += [([], (int(s), int(s) + 6), str(lang))
                         for lang, s in zip(langs, starts)]
        self.rollups += [(["lang"], (int(d), int(d)), None) for d in days]

    def noop_scan(self) -> None:
        read_sketch_table(self.spark, self.table).write.format("noop") \
            .mode("overwrite").save()

    def extra_calls(self):
        # query_s minus read_s is the rollup's own time
        return super().extra_calls() + [(
            "pipelines.sketch_table.read",
            lambda: read_sketch_table(self.spark, self.table).collect())]

    def merge_op(self, day: int) -> Op:
        d = DAY0 + dt.timedelta(days=day)
        return Op("merge_into_sketch_table",
                  "pipelines.sketch_table.merge_into_sketch_table",
                  self.truth.day_rows(day),
                  lambda: self.pages.filter(F.col("day") == d),
                  lambda batch: merge_into_sketch_table(
                      batch, "url", self.table, partition_col="day",
                      by=["lang"], log2m=LOG2M),
                  lambda res: [], layer_s="pipelines.sketch_table.merge_s")

    def rollup_op(self, by, days, lang) -> Op:
        where = None
        if days is not None:
            where = F.col("day").between(
                (DAY0 + dt.timedelta(days=days[0])).isoformat(),
                (DAY0 + dt.timedelta(days=days[1])).isoformat())
        if lang is not None:
            where = where & (F.col("lang") == lang)
        truth = self.truth.ndv(by, days=days, lang=lang)
        tag = f"query_sketch_table by {by} days {days} lang {lang}"
        sketch_rows = sum(
            n > 0 for (lg, d), n in self.rows_ld.items()
            if (days is None or days[0] <= d <= days[1])
            and (lang is None or lg == lang))

        def key(r):
            return tuple(_day(r[k]) if k == "day" else r[k] for k in by)

        def check(rows) -> list[str]:
            got = {key(r): r["ndv"] for r in rows}
            blobs = sorted((key(r), bytes(r["sketch"]), r["ndv"]) for r in rows)
            return self.acc.ndv(got, truth, tag) + self.acc.repeat(tag, blobs)

        shape = "rollup_" + ("_".join(by) or "global") + (
            "_where" if where is not None else "")
        return Op(shape, "pipelines.sketch_table.query_sketch_table",
                  sketch_rows,
                  lambda: query_sketch_table(self.spark, self.table, by=by,
                                             where=where),
                  lambda df: df.collect(), check,
                  lambda rows: [bytes(r["sketch"]) for r in rows],
                  layer_s="pipelines.sketch_table.query_s")

    def cycle(self, i: int) -> list[Op]:
        day = int(self.day_order[i % inputs.N_DAYS])
        return [self.merge_op(day)] + [self.rollup_op(*r) for r in self.rollups]

    def is_query(self, op: Op) -> bool:
        return op.shape != "merge_into_sketch_table"

    def table_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.table) for f in fs)

    def report(self, latencies) -> dict:
        merges = latencies.get("merge_into_sketch_table", [])
        return {"merge_s_p50": (float(np.median(merges)) if merges else None,
                                "s"),
                "sketch_table_bytes": (self.table_bytes(), "bytes")}


# ------------------------------------------------------------------ docs --


class CompanionSketches(Workload):
    name = "companion_sketches"

    def write_inputs(self) -> None:
        self.path = os.path.join(self.work, "docs")
        self.truth = inputs.write_docs(self.seed, DOCS_ROWS, self.path,
                                       self.cores)
        self.rows_in_inputs = {"docs": DOCS_ROWS,
                               "tokens": self.truth.n_tokens}

    def docs(self):
        return self.spark.read.parquet(self.path)

    def noop_scan(self) -> None:
        self.docs().write.format("noop").mode("overwrite").save()

    def heavy_hitters_op(self) -> Op:
        exact_top = self.truth.top(TOPK)
        kth = exact_top[-1][1]
        slack = math.e / CMS_WIDTH * self.truth.n_tokens

        def check(rows) -> list[str]:
            problems = []
            if len(rows) != TOPK:
                problems.append(f"heavy_hitters: {len(rows)} rows, want {TOPK}")
            got = {r["value"] for r in rows}
            recall = len(got & {v for v, _ in exact_top}) / TOPK
            acc = self.acc
            acc.topk_recall_min = (recall if acc.topk_recall_min is None
                                   else min(acc.topk_recall_min, recall))
            for r in rows:
                true = self.truth.count(r["value"])
                # count-min overestimates by at most e/width x tokens
                # (with probability 1 - e^-depth); a reported value may
                # only displace a true top-k value within that slack
                if not true <= r["est_count"] <= true + slack:
                    problems.append(f"heavy_hitters {r['value']}: estimate "
                                    f"{r['est_count']} vs exact {true}")
                if true < kth - slack:
                    problems.append(f"heavy_hitters {r['value']}: exact count "
                                    f"{true} is far below the k-th {kth}")
            answer = [(r["value"], r["est_count"]) for r in rows]
            return problems + acc.repeat("heavy_hitters", answer)

        def build():
            tokens = self.docs().select(
                F.explode(F.split(F.lower("text"), " ")).alias("token"))
            return heavy_hitters(tokens, "token", k=TOPK, width=CMS_WIDTH)

        return Op("heavy_hitters", "spark.sketch_agg.heavy_hitters",
                  DOCS_ROWS, build, lambda df: df.collect(), check,
                  layer_s="spark.sketch_agg.heavy_hitters_s")

    def quantiles_op(self, method: str) -> Op:
        cols = [f"q{int(q * 100)}" for q in QS]

        def check(rows) -> list[str]:
            problems = []
            if {r["lang"] for r in rows} != set(self.truth.lengths):
                problems.append(f"approx_quantiles {method}: wrong groups")
            for r in rows:
                for q, c in zip(QS, cols):
                    err = self.truth.rank_error(r["lang"], q, r[c])
                    self.acc.quantile_rank_err_max = max(
                        self.acc.quantile_rank_err_max, err)
                    if err > RANK_TOL:
                        problems.append(f"approx_quantiles {method} "
                                        f"{r['lang']} q{q}: rank error "
                                        f"{err:.4f} > {RANK_TOL}")
            return problems

        return Op(f"approx_quantiles_{method}",
                  "spark.sketch_agg.approx_quantiles", DOCS_ROWS,
                  lambda: approx_quantiles(
                      self.docs().select("lang", F.length("text").alias("len")),
                      "len", by=["lang"], qs=QS, method=method),
                  lambda df: df.collect(), check,
                  layer_s="spark.sketch_agg.quantiles_s")

    def cycle(self, i: int) -> list[Op]:
        return [self.heavy_hitters_op(), self.quantiles_op("kll"),
                self.quantiles_op("tdigest")]

    def warmup(self) -> list[Op]:
        # two cycles: after one, heavy_hitters still runs 30% slower
        return self.cycle(0) + self.cycle(1)

    def report(self, latencies) -> dict:
        return {"topk_recall": (self.acc.topk_recall_min, "ratio")}


WORKLOADS = {w.name: w for w in (NdvScan, GroupedSketch, SketchTable,
                                 CompanionSketches)}
