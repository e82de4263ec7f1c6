"""Companion sketch tests (SURVEY.md §2.3): numpy-core properties
(update/merge/codec/error bounds) and Spark-level pipelines validated
against exact twins and Spark builtins."""

from __future__ import annotations

import contextlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from js_hll_spark.core.bloom import BloomFilter
from js_hll_spark.core.cms import CountMinSketch
from js_hll_spark.core.kll import KLLSketch
from js_hll_spark.core.tdigest import TDigest
from js_hll_spark.spark.sketch_agg import approx_quantiles, heavy_hitters, sketch_agg


def hashes(n, seed=0):
    return np.random.default_rng(seed).integers(0, 2 ** 63, n, dtype=np.uint64)


# ------------------------------------------------------------------ CMS --


class TestCMS:
    def test_point_queries_one_sided(self):
        cms = CountMinSketch(depth=5, width=4096)
        rng = np.random.default_rng(1)
        keys = hashes(200, 2)
        true_counts = rng.integers(1, 500, size=200)
        for h, c in zip(keys, true_counts):
            cms.update_hashed(np.full(c, h, dtype=np.uint64))
        est = cms.query_hashed(keys)
        assert (est >= true_counts).all()  # never undercounts
        overcount = est - true_counts
        assert overcount.max() <= math.e / 4096 * cms.total * 3

    def test_merge_equals_single(self):
        a, b = CountMinSketch(4, 1024), CountMinSketch(4, 1024)
        va, vb = hashes(5000, 3), hashes(5000, 4)
        a.update_hashed(va)
        b.update_hashed(vb)
        both = CountMinSketch(4, 1024)
        both.update_hashed(np.concatenate([va, vb]))
        merged = a.merge(b)
        np.testing.assert_array_equal(merged.table, both.table)
        assert merged.total == both.total

    def test_codec_roundtrip(self):
        cms = CountMinSketch(3, 512)
        cms.update_hashed(hashes(1000, 5))
        back = CountMinSketch.from_bytes(cms.to_bytes())
        np.testing.assert_array_equal(back.table, cms.table)
        assert back.total == cms.total

    def test_shape_mismatch(self):
        with pytest.raises(ValueError):
            CountMinSketch(4, 1024).merge(CountMinSketch(4, 512))


# ---------------------------------------------------------------- Bloom --


class TestBloom:
    def test_no_false_negatives(self):
        bf = BloomFilter.for_capacity(10_000, 0.01)
        present = hashes(10_000, 6)
        bf.add_hashed(present)
        assert bf.contains_hashed(present).all()

    def test_fpr_within_spec(self):
        bf = BloomFilter.for_capacity(10_000, 0.01)
        bf.add_hashed(hashes(10_000, 7))
        absent = hashes(50_000, 8)
        fpr = bf.contains_hashed(absent).mean()
        assert fpr < 0.03  # spec 0.01 + sampling slack

    def test_merge_is_union(self):
        a = BloomFilter(1 << 16, 5)
        b = BloomFilter(1 << 16, 5)
        va, vb = hashes(1000, 9), hashes(1000, 10)
        a.add_hashed(va)
        b.add_hashed(vb)
        a.merge(b)
        assert a.contains_hashed(va).all() and a.contains_hashed(vb).all()

    def test_codec_roundtrip(self):
        bf = BloomFilter(1 << 12, 3)
        bf.add_hashed(hashes(100, 11))
        back = BloomFilter.from_bytes(bf.to_bytes())
        np.testing.assert_array_equal(back.bits, bf.bits)


# ------------------------------------------------------------------ KLL --


class TestKLL:
    def test_rank_error_bound(self):
        n = 200_000
        values = np.random.default_rng(12).standard_normal(n)
        sk = KLLSketch(k=200)
        for chunk in np.array_split(values, 10):
            sk.update(chunk)
        svals = np.sort(values)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = sk.quantile(q)
            true_rank = np.searchsorted(svals, est) / n
            assert abs(true_rank - q) < 0.025, (q, est, true_rank)

    def test_merge_error_bound(self):
        values = np.random.default_rng(13).uniform(0, 1000, 100_000)
        parts = np.array_split(values, 7)
        merged = KLLSketch(k=200)
        for p in parts:
            s = KLLSketch(k=200)
            s.update(p)
            merged.merge(s)
        assert merged.n == values.size
        svals = np.sort(values)
        for q in (0.1, 0.5, 0.9):
            est = merged.quantile(q)
            true_rank = np.searchsorted(svals, est) / values.size
            assert abs(true_rank - q) < 0.03

    def test_codec_roundtrip(self):
        sk = KLLSketch(k=64)
        sk.update(np.arange(10_000, dtype=np.float64))
        back = KLLSketch.from_bytes(sk.to_bytes())
        assert back.n == sk.n
        assert back.quantile(0.5) == sk.quantile(0.5)

    def test_nan_ignored_and_empty(self):
        sk = KLLSketch()
        sk.update(np.array([np.nan, np.nan]))
        assert sk.n == 0 and math.isnan(sk.quantile(0.5))


# -------------------------------------------------------------- t-digest --


class TestTDigest:
    def test_quantile_accuracy(self):
        values = np.random.default_rng(14).standard_normal(300_000)
        td = TDigest(compression=100)
        for chunk in np.array_split(values, 20):
            td.update(chunk)
        svals = np.sort(values)
        for q in (0.001, 0.01, 0.5, 0.99, 0.999):
            est = td.quantile(q)
            true_rank = np.searchsorted(svals, est) / values.size
            # t-digest is tightest at the tails
            tol = 0.005 if min(q, 1 - q) < 0.05 else 0.02
            assert abs(true_rank - q) < tol, (q, est, true_rank)
        assert len(td.means) < 2 * 100

    def test_merge_error_bound(self):
        values = np.random.default_rng(15).uniform(-5, 5, 120_000)
        merged = TDigest(100)
        for p in np.array_split(values, 9):
            t = TDigest(100)
            t.update(p)
            merged.merge(t)
        assert merged.n == values.size
        svals = np.sort(values)
        for q in (0.05, 0.5, 0.95):
            true_rank = np.searchsorted(svals, merged.quantile(q)) / values.size
            assert abs(true_rank - q) < 0.02

    def test_codec_roundtrip(self):
        td = TDigest(50)
        td.update(np.random.default_rng(16).uniform(0, 1, 10_000))
        back = TDigest.from_bytes(td.to_bytes())
        assert back.quantile(0.5) == td.quantile(0.5)
        assert back.n == td.n


# ------------------------------------------------------------ Spark-level --


def test_spark_approx_quantiles(spark, documents):
    est = approx_quantiles(
        documents, "n_chars", by=["lang"], qs=(0.5, 0.9), method="kll"
    ).collect()
    exact = {
        r["lang"]: (r["e50"], r["e90"])
        for r in documents.groupBy("lang")
        .agg(
            F.expr("percentile(n_chars, 0.5)").alias("e50"),
            F.expr("percentile(n_chars, 0.9)").alias("e90"),
        )
        .collect()
    }
    spread = {
        r["lang"]: r["mx"] - r["mn"]
        for r in documents.groupBy("lang")
        .agg(F.max("n_chars").alias("mx"), F.min("n_chars").alias("mn"))
        .collect()
    }
    for r in est:
        e50, e90 = exact[r["lang"]]
        assert abs(r["q50"] - e50) <= 0.15 * spread[r["lang"]] + 1
        assert abs(r["q90"] - e90) <= 0.15 * spread[r["lang"]] + 1


def test_spark_tdigest_quantiles(spark, lineitem):
    est = approx_quantiles(
        lineitem, "l_extendedprice", qs=(0.5,), method="tdigest"
    ).first()
    exact = lineitem.select(
        F.expr("percentile(l_extendedprice, 0.5)").alias("e")
    ).first()["e"]
    assert abs(est["q50"] - exact) / exact < 0.02


def test_spark_heavy_hitters_match_exact(spark, documents):
    toks = documents.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    approx = heavy_hitters(toks, "tok", k=10, width=16384).collect()
    exact = (
        toks.groupBy("tok")
        .count()
        .orderBy(F.desc("count"), F.asc("tok"))
        .limit(10)
        .collect()
    )
    approx_set = {r["value"] for r in approx[:5]}
    exact_set = {r["tok"] for r in exact[:5]}
    assert len(approx_set & exact_set) >= 4
    exact_counts = {r["tok"]: r["count"] for r in exact}
    for r in approx:
        if r["value"] in exact_counts:
            assert r["est_count"] >= exact_counts[r["value"]]  # one-sided


def test_spark_bloom_membership(spark, events):
    bf_row = sketch_agg(events, "user_id", kind="bloom",
                        params={"n_bits": 1 << 16, "n_hashes": 5}).first()
    bf = BloomFilter.from_bytes(bytes(bf_row["sketch"]))
    present = events.select(F.xxhash64("user_id").alias("h")).distinct().collect()
    h = np.array([r["h"] for r in present], dtype=np.int64).view(np.uint64)
    assert bf.contains_hashed(h).all()


def test_spark_cms_grouped(spark, events):
    out = sketch_agg(
        events, "user_id", by=["event_type"], kind="cms",
        params={"depth": 4, "width": 1024},
    ).collect()
    totals = {r["event_type"]: r["rows_seen"] for r in out}
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert totals == exact


class TestSpaceSavingCounter:
    def test_tracked_values_never_undercount(self):
        """The space-saving invariant: every tracked value's count is >=
        its true count seen so far — eviction + reappearance must resume
        from the floor, not restart at zero (VERDICT r2 advice: plain
        nlargest truncation broke the pigeonhole recall argument)."""
        import pandas as pd

        from js_hll_spark.spark.sketch_agg import SpaceSavingCounter

        counter = SpaceSavingCounter(pool=10)
        true: dict[str, int] = {}
        rng = np.random.default_rng(7)
        for batch in range(60):
            # one persistent value per batch + a flood of fresh mid-count
            # junk that forces eviction of the persistent value
            vals = {"persistent": 1}
            for j in range(40):
                vals[f"junk_{batch}_{j}"] = int(rng.integers(2, 5))
            for v, n in vals.items():
                true[v] = true.get(v, 0) + n
            counter.update(pd.Series(vals, dtype="int64"))
            assert len(counter.counts) <= counter.cap
        tracked = counter.counts
        for v, c in tracked.items():
            assert c >= true[v], (v, c, true[v])

    def test_exact_when_under_capacity(self):
        import pandas as pd

        from js_hll_spark.spark.sketch_agg import SpaceSavingCounter

        counter = SpaceSavingCounter(pool=100)
        counter.update(pd.Series({"a": 5, "b": 2}))
        counter.update(pd.Series({"a": 1, "c": 9}))
        top = counter.top(3)
        assert dict(top) == {"c": 9.0, "a": 6.0, "b": 2.0}


def test_grouped_heavy_hitters_match_exact(spark, documents):
    """Per-group heavy hitters over the fixture corpus report exactly
    the per-group top-5 of the exact counts (candidate recall suffices
    and the CMS has no collision at this sizing)."""
    from js_hll_spark.operators import text
    from js_hll_spark.spark.sketch_agg import heavy_hitters
    from pyspark.sql.window import Window

    toks = documents.select("lang", F.explode(text.tokens("text")).alias("tok"))
    hh = heavy_hitters(toks, "tok", by=["lang"], k=5, width=16384)
    got = {(r["lang"], r["value"]): r["est_count"] for r in hh.collect()}
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    exact = {
        (r["lang"], r["tok"]): r["n"]
        for r in toks.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    }
    assert got == exact
    # 5 langs x top-5
    assert len(exact) == 25


def test_grouped_heavy_hitters_adversarial_partitions(spark):
    """End-to-end recall under the pattern that broke plain truncation
    (VERDICT r2 advice): per group, a persistent heavy value arrives
    thinly spread while fresh mid-count junk floods every batch. The
    space-saving candidates + CMS scoring must still report the true
    top value first in every group."""
    import pyspark.sql.functions as F

    from js_hll_spark.spark.sketch_agg import heavy_hitters

    # 2 groups x (1 persistent value repeated 400x + 4000 junk values 3x)
    rows = []
    for g in ("g0", "g1"):
        rows += [(g, f"HH_{g}")] * 400
        for j in range(4000):
            rows += [(g, f"junk_{g}_{j}")] * 3
    df = spark.createDataFrame(rows, "grp string, v string").repartition(16)
    hh = heavy_hitters(
        df, "v", by=["grp"], k=3, width=65536, candidate_pool=50
    )
    top = {
        r["grp"]: (r["value"], r["est_count"])
        for r in hh.filter("est_count >= 400").collect()
    }
    assert top == {"g0": ("HH_g0", 400), "g1": ("HH_g1", 400)}


def test_grouped_heavy_hitters_keeps_null_group(spark):
    """A null group key must surface in the output like any other group
    (the candidate->sketch join is null-safe); counts stay exact at this
    collision-free sizing."""
    from js_hll_spark.spark.sketch_agg import heavy_hitters

    rows = [("g1", "a")] * 5 + [("g1", "b")] * 2 + [(None, "x")] * 7 + [(None, "y")] * 3
    df = spark.createDataFrame(rows, ["grp", "tok"]).repartition(4)
    out = heavy_hitters(df, "tok", by=["grp"], k=2)
    got = {(r["grp"], r["value"]): r["est_count"] for r in out.collect()}
    assert got[(None, "x")] == 7 and got[(None, "y")] == 3
    assert got[("g1", "a")] == 5 and got[("g1", "b")] == 2


# -------------------------------------- heavy hitters vs the exact top-k --
# Each case compares heavy_hitters to the exact groupBy().count() top-k
# (count descending, then value ascending) at a width where the reported
# values have no count-min collision, so est_count is the exact count.


def _exact_top(df, col, keys, k):
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*keys, F.col(col).cast("string").alias("value"))
        .count()
        .collect()
    )
    per: dict[tuple, list] = {}
    for r in counts:
        per.setdefault(tuple(r[c] for c in keys), []).append((-r["count"], r["value"]))
    return {
        (*g, v): -c for g, cands in per.items() for c, v in sorted(cands)[:k]
    }


def _hh_rows(df, keys):
    return {(*(r[c] for c in keys), r["value"]): r["est_count"] for r in df.collect()}


@contextlib.contextmanager
def _sql_conf(spark, conf):
    before = {c: spark.conf.get(c) for c in conf}
    try:
        for c, v in conf.items():
            spark.conf.set(c, v)
        yield
    finally:
        for c, v in before.items():
            spark.conf.set(c, v)


def test_heavy_hitters_partition_count_invariant(spark):
    """The same rows in 1 and in 16 input partitions give the same
    answer, keyed and unkeyed, and it is the exact top-k."""
    rows = [(f"g{i % 3}", f"v{(i * 7) % 41 if i % 5 else i % 4}") for i in range(3000)]
    df = spark.createDataFrame(rows, "grp string, tok string")
    for keys, k in (([], 10), (["grp"], 4)):
        one = heavy_hitters(df.coalesce(1), "tok", keys, k=k, width=65536)
        many = heavy_hitters(df.repartition(16), "tok", keys, k=k, width=65536)
        if not keys:
            assert one.collect() == many.collect()
        assert _hh_rows(one, keys) == _hh_rows(many, keys)
        assert _hh_rows(one, keys) == _exact_top(df, "tok", keys, k)


def test_heavy_hitters_ties_at_pool_boundary(spark):
    """Twelve values tie at the pool boundary, spread over 8 post-shuffle
    partitions (coalescing off): every partition nominates its smallest
    tied values, so the reported top-k breaks the tie by ascending
    value, as the exact top-k does."""
    rows = [("g", "hot")] * 9 + [("g", f"t{j:02d}") for j in range(12) for _ in range(4)]
    df = spark.createDataFrame(rows, "grp string, tok string").repartition(8)
    with _sql_conf(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        got = {
            tuple(keys): _hh_rows(
                heavy_hitters(df, "tok", keys, k=3, width=65536, candidate_pool=3),
                keys,
            )
            for keys in ([], ["grp"])
        }
        top = heavy_hitters(df, "tok", k=3, width=65536, candidate_pool=3).collect()
    for keys in ([], ["grp"]):
        assert got[tuple(keys)] == _exact_top(df, "tok", keys, 3)
    assert [(r["value"], r["est_count"]) for r in top] == [
        ("hot", 9), ("t00", 4), ("t01", 4)
    ]


def test_heavy_hitters_empty_and_all_null_inputs(spark):
    """An empty frame and an all-NULL value column give 0 rows, keyed
    and unkeyed, like the exact top-k of nothing."""
    empty = spark.createDataFrame([], "grp string, tok string")
    nulls = spark.createDataFrame([("g", None)] * 5 + [(None, None)] * 3,
                                  "grp string, tok string")
    for df in (empty, nulls):
        for keys in ([], ["grp"]):
            assert heavy_hitters(df, "tok", keys, k=5).collect() == []


def test_heavy_hitters_integer_values(spark):
    """An IntegerType value column reports its values as strings with
    exact counts; NULL values are not counted."""
    rows = [(i % 2, (i * i) % 13 if i % 9 else None) for i in range(500)]
    df = spark.createDataFrame(rows, "grp int, v int")
    for keys in ([], ["grp"]):
        out = heavy_hitters(df, "v", keys, k=4, width=65536)
        assert out.schema["value"].dataType.simpleString() == "string"
        assert _hh_rows(out, keys) == _exact_top(df, "v", keys, 4)


def test_heavy_hitters_hot_group_beside_tiny_ones(spark):
    """One group holding most rows and thousands of values sits beside
    800 groups of one or two rows each: every group gets its exact
    top-k."""
    hot = [("hot", f"w{(i * i) % 2003}") for i in range(20000)]
    tiny = [(f"t{g}", f"x{g % 5}") for g in range(800) for _ in range(1 + g % 2)]
    df = spark.createDataFrame(hot + tiny, "grp string, tok string").repartition(8)
    out = heavy_hitters(df, "tok", by=["grp"], k=3, width=65536)
    assert _hh_rows(out, ["grp"]) == _exact_top(df, "tok", ["grp"], 3)


def test_heavy_hitters_partial_flush_identical(spark):
    """5000 groups in one post-shuffle partition, read in 1000-row Arrow
    batches, pass the partial stage's 4096-key cap. The rows arrive
    value-major (every group's first value, then every group's second),
    so each group's values straddle flushes and its CMS table and
    candidates are split across partial rows. The merged answer is
    still the exact top-k."""
    rows = [(f"g{g}", f"v{(g + j) % 7}") for j in range(3) for g in range(5000)
            for _ in range(j + 1)]
    df = spark.createDataFrame(rows, "grp string, tok string")
    conf = {"spark.sql.shuffle.partitions": "1",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1000"}
    with _sql_conf(spark, conf):
        out = heavy_hitters(df, "tok", by=["grp"], k=2, depth=4, width=128,
                            candidate_pool=2)
        got = _hh_rows(out, ["grp"])
    assert got == _exact_top(df, "tok", ["grp"], 2)


def test_companion_from_bytes_rejects_truncation():
    """A truncated blob must fail loudly at decode time, not crash (or
    silently mis-answer) at query/merge time."""
    import numpy as np
    import pytest

    from js_hll_spark.core.bloom import BloomFilter
    from js_hll_spark.core.cms import CountMinSketch
    from js_hll_spark.core.kll import KLLSketch

    b = BloomFilter(1 << 12, 5)
    b.add_hashed(np.arange(100, dtype=np.uint64))
    c = CountMinSketch(5, 256)
    c.update_hashed(np.arange(100, dtype=np.uint64))
    k = KLLSketch(64)
    k.update(np.arange(500, dtype=np.float64))
    for sk, cls in ((b, BloomFilter), (c, CountMinSketch), (k, KLLSketch)):
        blob = sk.to_bytes()
        assert cls.from_bytes(blob) is not None
        with pytest.raises(ValueError):
            cls.from_bytes(blob[: len(blob) - 7])


def test_kll_batch_quantiles_match_single_calls(spark):
    import numpy as np

    from js_hll_spark.core.kll import KLLSketch

    k = KLLSketch(128)
    k.update(np.random.default_rng(0).normal(size=20_000))
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    assert k.quantiles(qs) == [k.quantile(q) for q in qs]


def test_sketch_agg_key_cap_flush_kll(spark):
    """ADVICE r3 (medium): variable-size kinds (kll/tdigest) serialize
    tiny while empty, so the byte budget alone lets a high-cardinality
    `by` accumulate unbounded state before the first flush. The key cap
    must force partial flushes mid-partition, and re-merged duplicate
    key rows (second occurrence lands after the cap flush) must still
    produce exact uncompacted quantiles."""
    n_keys = 6000  # > the 4096 pre-measurement key cap
    base = spark.range(n_keys).select(
        F.concat(F.lit("k"), F.col("id")).alias("g"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    # each key twice: occurrences 1..n then 1..n again, one partition ->
    # the cap flush lands between a key's two occurrences
    df = base.union(
        base.withColumn("v", F.col("v") + 1.0)
    ).coalesce(1)
    out = approx_quantiles(
        df, "v", by=["g"], qs=(0.5,), method="kll", params={"k": 64}
    )
    rows = {r["g"]: r["q50"] for r in out.collect()}
    assert len(rows) == n_keys
    # uncompacted KLL of 2 items: q50 = nearest-rank item 1 = min(v, v+1)
    for g, q in list(rows.items())[:50]:
        i = int(g[1:])
        assert q == float(i % 97), (g, q)


def test_norm_key_null_safe_across_fresh_nan_objects():
    """pandas materializes a FRESH NaN/NaT object per Arrow batch; the
    partial accumulator's dict key must normalize them to None or a
    null-keyed group accretes one partial (and one SpaceSavingCounter)
    per batch instead of one per partition."""
    import numpy as np
    import pandas as pd

    from js_hll_spark.spark.sketch_agg import norm_group_key as _norm_key

    a, b = float("nan"), np.float64("nan")
    assert a is not b and a != b  # fresh objects, the failure precondition
    assert _norm_key(a) == _norm_key(b) == (None,)
    assert _norm_key((np.float64("nan"), "en")) == (None, "en")
    assert _norm_key((pd.NaT, 3)) == (None, 3)
    assert _norm_key(("x", 1)) == ("x", 1)
    # normalized keys are interchangeable dict keys across batches
    acc = {_norm_key(a): "s"}
    assert acc.get(_norm_key(b)) == "s"


def test_sketch_agg_null_group_exact_at_tiny_arrow_batches(spark):
    """Null-keyed groups spanning many Arrow batches must still merge to
    one exact result (cross-batch dict identity for the NaN key)."""
    rows = [(None, f"v{i % 5}") for i in range(40)] + [
        ("g1", f"w{i % 3}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["grp", "tok"]).coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = sketch_agg(
            df, "tok", ["grp"], kind="cms", params={"depth": 5, "width": 2048}
        )
        got = {r["grp"]: r["rows_seen"] for r in out.collect()}
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == {None: 40, "g1": 30}


def test_rows_seen_excludes_nan_for_numeric_kinds(spark):
    """NaN is a non-null double: it passes the isNotNull filter but the
    numeric sketches strip it on update — rows_seen must agree with what
    the sketch actually absorbed (review r5: it over-counted)."""
    vals = [1.0, 2.0, float("nan"), 3.0, float("nan"), 4.0]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    out = sketch_agg(df, "v", [], kind="kll", params={"k": 64}).collect()
    assert len(out) == 1 and out[0]["rows_seen"] == 4

    from js_hll_spark.core.tdigest import TDigest

    out_td = sketch_agg(
        df, "v", [], kind="tdigest", params={"compression": 100.0}
    ).collect()
    assert out_td[0]["rows_seen"] == 4
    td = TDigest.from_bytes(bytes(out_td[0]["sketch"]))
    assert td.n == 4  # sketch contents and rows_seen agree


def test_tdigest_from_bytes_rejects_bad_lengths():
    """TDigest was the one companion codec without blob-length validation
    (trailing garbage decoded silently; truncation surfaced as a raw
    numpy error)."""
    import numpy as np
    import pytest

    from js_hll_spark.core.tdigest import TDigest

    t = TDigest(100.0)
    t.update(np.arange(500, dtype=np.float64))
    blob = t.to_bytes()
    assert TDigest.from_bytes(blob).n == 500
    with pytest.raises(ValueError, match="TDG1"):
        TDigest.from_bytes(blob + b"junkjunk")
    with pytest.raises(ValueError, match="TDG1"):
        TDigest.from_bytes(blob[: len(blob) - 7])
