"""Spark-level tests for the two-phase sketch aggregation harness
(SURVEY.md §5.2-3): estimates vs exact countDistinct within the published
bound, partition-order invariance at the DataFrame level, rollup semantics,
and scalar sketch-column functions."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from js_hll_spark import HLL, HLLConfig
from js_hll_spark.spark.agg import hll_ndv, hll_rollup, hll_sketch
from js_hll_spark.spark.functions import (
    hll_cardinality_udf,
    hll_from_hex_udf,
    hll_to_hex_udf,
    hll_union_pair_udf,
)

BOUND = lambda log2m: 1.04 / math.sqrt(2 ** log2m)  # noqa: E731


def numpy_dense(df, value_col, by=(), *, log2m, regwidth=5):
    """{group key tuple: (sketch bytes, ndv, rows_seen)} built by the
    numpy core from the JVM's xxhash64 of every non-NULL value — the
    reference for the Catalyst register path."""
    groups: dict[tuple, list] = {}
    for r in (
        df.filter(F.col(value_col).isNotNull())
        .select(*by, F.xxhash64(value_col).alias("h"))
        .collect()
    ):
        groups.setdefault(tuple(r[k] for k in by), []).append(r["h"])
    out = {}
    for key, hashes in groups.items():
        s = HLL(HLLConfig(log2m, regwidth), explicit_threshold=0, sparse_on=False)
        s.add_raw64(np.array(hashes, dtype=np.int64))
        out[key] = (s.to_bytes(), s.algorithm_cardinality(), len(hashes))
    return out


def sketch_rows(df, by):
    """{group key tuple: (sketch bytes, ndv, rows_seen)} of hll_sketch
    output, in numpy_dense's shape."""
    return {
        tuple(r[k] for k in by): (bytes(r["sketch"]), r["ndv"], r["rows_seen"])
        for r in df.collect()
    }


def test_global_ndv_events(spark, events):
    exact = events.select(F.countDistinct("user_id")).first()[0]
    est = hll_ndv(events, "user_id", log2m=13).first()["ndv"]
    assert abs(est - exact) / exact < 3 * BOUND(13)


def test_grouped_ndv_matches_exact(spark, events):
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["ndv"]
        for r in hll_ndv(events, "user_id", by=["event_type"], log2m=13).collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) / max(exact[k], 1) < 3 * BOUND(13), k


def test_partition_order_invariance_spark(spark, documents):
    """Bit-identical merged sketch regardless of partitioning (the
    BASELINE merge clause, at the DataFrame level) — on the Catalyst
    path, where it also equals the numpy core's build, and on the
    harness (murmur3)."""
    shuffled = documents.repartition(16, "doc_id")
    for hash_method in ("xxhash64", "murmur3"):
        a, b = (
            bytes(hll_sketch(df, "text", log2m=11, hash_method=hash_method)
                  .first()["sketch"])
            for df in (documents, shuffled)
        )
        assert a == b, hash_method
        if hash_method == "xxhash64":
            assert a == numpy_dense(documents, "text", log2m=11)[()][0]


def test_engines_bit_identical(spark, events):
    """The Catalyst register path produces byte-identical sketches,
    estimates and rows_seen to the numpy core fed the same hashes."""
    got = sketch_rows(
        hll_sketch(events, "user_id", by=["event_type"], log2m=12), ["event_type"]
    )
    assert got == numpy_dense(events, "user_id", ["event_type"], log2m=12)


def test_rows_seen_accounting(spark, events):
    out = hll_sketch(events, "user_id", by=["event_type"], log2m=10).collect()
    total = sum(r["rows_seen"] for r in out)
    assert total == events.count()


def test_rollup_from_persisted_sketches(spark, events, tmp_path):
    """Sketch at fine grain, roll up to coarse grain via union only —
    estimate must be bit-identical to sketching coarse directly."""
    fine = hll_sketch(
        events.withColumn("day", F.to_date("ts")),
        "user_id",
        by=["event_type", "day"],
        log2m=11,
    )
    path = str(tmp_path / "sketches")
    fine.write.parquet(path)
    persisted = spark.read.parquet(path)
    coarse = {
        r["event_type"]: bytes(r["sketch"])
        for r in hll_rollup(persisted, ["event_type"]).collect()
    }
    direct = {
        r["event_type"]: bytes(r["sketch"])
        for r in hll_sketch(events, "user_id", by=["event_type"], log2m=11).collect()
    }
    assert coarse == direct


def test_scalar_udfs_roundtrip(spark, events):
    sk = hll_sketch(events, "user_id", log2m=11)
    row = (
        sk.select(
            hll_cardinality_udf("sketch").alias("card"),
            hll_to_hex_udf("sketch").alias("hex"),
        )
        .select("card", hll_from_hex_udf("hex").alias("back"), "hex")
        .first()
    )
    assert row["hex"].startswith("/x14")
    assert (
        HLL.from_bytes(bytes(row["back"])).algorithm_cardinality() == row["card"]
    )


def test_union_pair_udf(spark, events):
    a = hll_sketch(
        events.filter("event_id % 2 = 0"), "user_id", log2m=11
    ).select(F.col("sketch").alias("a"))
    b = hll_sketch(
        events.filter("event_id % 2 = 1"), "user_id", log2m=11
    ).select(F.col("sketch").alias("b"))
    both = a.crossJoin(b).select(
        hll_cardinality_udf(hll_union_pair_udf("a", "b")).alias("card")
    )
    direct = hll_sketch(events, "user_id", log2m=11).first()["ndv"]
    assert both.first()["card"] == direct


def test_murmur3_hash_method(spark, events):
    """AK-convention murmur3 over an integral column, vectorized in the
    worker; estimate must still land within bound."""
    exact = events.select(F.countDistinct("user_id")).first()[0]
    est = hll_ndv(events, "user_id", log2m=12, hash_method="murmur3").first()["ndv"]
    assert abs(est - exact) / exact < 3 * BOUND(12)


def test_memory_budget_flush_identical(spark, events):
    """Forcing partial-state flushes (tiny memory budget -> many partial
    rows per key) must produce bit-identical merged sketches."""
    normal = {
        r["event_type"]: bytes(r["sketch"])
        for r in hll_sketch(
            events, "user_id", by=["event_type"], log2m=12, hash_method="murmur3"
        ).collect()
    }
    # budget of one register file -> flush after every batch
    tiny = {
        r["event_type"]: bytes(r["sketch"])
        for r in hll_sketch(
            events, "user_id", by=["event_type"], log2m=12,
            memory_budget_bytes=1, hash_method="murmur3",
        ).collect()
    }
    assert normal == tiny


def test_high_cardinality_group_keys(spark, events):
    """Group by a ~unique key (user_id x event_type): partial state must
    flush within budget and estimates stay exact-ish for tiny groups."""
    out = hll_sketch(
        events, "event_id", by=["user_id"], log2m=10,
        memory_budget_bytes=64 << 10,  # ~64 keys of 1 KiB live at once
        hash_method="murmur3",
    )
    rows = out.collect()
    import pyspark.sql.functions as F
    exact = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        assert abs(r["ndv"] - exact[r["user_id"]]) / max(exact[r["user_id"]], 1) < 0.2


def test_extreme_skew_correct(spark):
    """95% of rows share one group key (Zipf worst case): the partial
    stage bounds the merge shuffle at one row per partition per key, and
    the result stays bit-identical to the balanced computation."""
    import pyspark.sql.functions as F

    n = 200_000
    df = spark.range(n).select(
        F.when(F.col("id") % 20 != 0, F.lit("hot")).otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 7).cast("string"))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    skewed = hll_sketch(df.repartition(16), "v", by=["k"], log2m=12)
    rows = {r["k"]: (bytes(r["sketch"]), r["rows_seen"]) for r in skewed.collect()}
    exact = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert set(rows) == set(exact)
    assert rows["hot"][1] == n - n // 20
    for k, n_exact in exact.items():
        est = hll_sketch(df.filter(F.col("k") == k), "v", log2m=12).first()["ndv"]
        assert abs(est - n_exact) / n_exact < 3 * BOUND(12)


def test_murmur3_string_column(spark, documents):
    """AK-convention murmur3 over a STRING column (vectorized
    murmur3_64_bytes in the worker): estimate within bound and sketch
    bit-identical to a local numpy build with the same hash."""
    import numpy as np

    from js_hll_spark import HLL, HLLConfig
    from js_hll_spark.hashing import murmur3_64_bytes

    est_row = hll_sketch(
        documents, "text", log2m=12, hash_method="murmur3"
    ).first()
    texts = [r["text"] for r in documents.select("text").collect()]
    local = HLL(HLLConfig(12, 5), explicit_threshold=0, sparse_on=False)
    local.add_raw64(murmur3_64_bytes(texts))
    assert bytes(est_row["sketch"]) == local.to_bytes()
    exact = len(set(texts))
    assert abs(est_row["ndv"] - exact) / exact < 3 * BOUND(12)


def test_large_precision_configs(spark, events):
    """log2m=20 (1M registers, the 'tens of billions NDV' shape) and
    regwidth=8 run through the full Spark path with results
    bit-identical to the numpy core and valid spec encoding."""
    row = hll_sketch(events, "user_id", log2m=20, regwidth=8).first()
    s = HLL.from_bytes(bytes(row["sketch"]))
    assert s.config.log2m == 20 and s.config.regwidth == 8
    want = numpy_dense(events, "user_id", log2m=20, regwidth=8)[()]
    assert (bytes(row["sketch"]), row["ndv"], row["rows_seen"]) == want
    exact = events.select(F.countDistinct("user_id")).first()[0]
    # at n << m the estimator is in the linear-counting regime: tight
    assert abs(row["ndv"] - exact) / exact < 0.01


def test_sql_registered_functions(spark, documents):
    """The sketch functions work from spark.sql end to end: sketch table
    -> SQL union of two groups -> cardinality + hex round trip."""
    from js_hll_spark.spark.agg import hll_sketch
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    sk = hll_sketch(documents, "text", by=["lang"], log2m=12, estimate=True)
    sk.createOrReplaceTempView("sk_by_lang")
    row = spark.sql(
        """
        SELECT hll_cardinality(hll_union_pair(a.sketch, b.sketch)) AS ndv_ab,
               hll_cardinality(hll_from_hex(hll_to_hex(a.sketch))) AS ndv_rt,
               hll_cardinality(a.sketch) AS ndv_a,
               hll_cardinality(hll_fold(a.sketch, 10)) AS ndv_folded
        FROM sk_by_lang a JOIN sk_by_lang b
          ON a.lang = 'en' AND b.lang = 'de'
        """
    ).first()
    en = sk.filter("lang = 'en'").first()["ndv"]
    assert abs(row["ndv_rt"] - en) < 1e-9  # hex round trip is lossless
    assert abs(row["ndv_a"] - en) < 1e-9
    assert row["ndv_ab"] >= max(row["ndv_a"], 1.0)  # union >= each side
    # fold executes through SQL; accuracy on sparse register files is NOT
    # a fold property (fold==direct-build holds on dense input only —
    # test_fold_equals_direct_build pins that), so only sanity-check it
    assert 0 < row["ndv_folded"] <= row["ndv_a"]


def test_streaming_assembly_matches_pergroup_path(spark, events):
    """The batched mapInPandas assembly must be byte-identical to a
    per-group numpy build, including keys that straddle Arrow batch
    boundaries (forced with a tiny batch size) and high-cardinality
    keys."""
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = sketch_rows(
            hll_sketch(
                events.limit(3000), "event_type", by=["user_id"], log2m=10
            ),
            ["user_id"],
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", small
        )
    ref = numpy_dense(events.limit(3000), "event_type", ["user_id"], log2m=10)
    assert got.keys() == ref.keys() and len(got) > 50
    for k in got:
        assert got[k] == ref[k], k


def test_keyed_assembly_null_group_keys(spark):
    """Null group keys must form ONE group in the batched assembly and
    rollup streams: Arrow->pandas surfaces nullable numeric keys as NaN,
    and NaN != NaN would otherwise emit one group per null-keyed row.
    Forces tiny Arrow batches so the null group also straddles batches."""
    from js_hll_spark.spark.agg import hll_rollup, hll_sketch

    rows = [(None if i % 3 == 0 else i % 5, f"v{i % 37}") for i in range(400)]
    df = spark.createDataFrame(rows, "grp int, val string")
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = hll_sketch(df, "val", by=["grp"], log2m=11).collect()
        assert len(got) == 6  # null + int groups 0..4
        by_key = {r["grp"]: r for r in got}
        assert None in by_key
        exact = {
            r["grp"]: r["n"]
            for r in df.groupBy("grp")
            .agg(F.countDistinct("val").alias("n"))
            .collect()
        }
        for k, r in by_key.items():
            assert abs(r["ndv"] - exact[k]) / exact[k] < 0.2, k
        # harness partials and rollup stream over a null-keyed sketch
        # table: same contract, and the EXPLICIT tier stays exact
        fine = hll_sketch(
            df, "val", by=["grp"], log2m=11, engine="explicit", estimate=False
        )
        rolled = {r["grp"]: r["ndv"] for r in hll_rollup(fine, ["grp"]).collect()}
        assert rolled == exact
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)


def test_grouped_agg_udaf_matches_rollup(spark, documents):
    """hll_union_agg/hll_ndv_agg (pandas GROUPED_AGG — the postgresql-hll
    hll_union_agg surface as a true Spark aggregate expression) must be
    byte-identical to hll_rollup on the same sketch table, and usable
    from plain SQL GROUP BY."""
    from js_hll_spark.spark.functions import (
        hll_ndv_agg_udf,
        hll_union_agg_udf,
        register_sql_functions,
    )

    fine = hll_sketch(
        documents, "text", by=["lang", "source"], log2m=12, estimate=False
    ).cache()
    agg = {
        r["lang"]: (r["ndv"], bytes(r["sk"]))
        for r in fine.groupBy("lang")
        .agg(
            hll_ndv_agg_udf("sketch").alias("ndv"),
            hll_union_agg_udf("sketch").alias("sk"),
        )
        .collect()
    }
    rolled = {
        r["lang"]: (r["ndv"], bytes(r["sketch"]))
        for r in hll_rollup(fine, ["lang"]).collect()
    }
    assert agg.keys() == rolled.keys()
    for k in rolled:
        assert abs(agg[k][0] - rolled[k][0]) < 1e-9
        assert agg[k][1] == rolled[k][1]
    register_sql_functions(spark)
    fine.createOrReplaceTempView("__sk_agg_test")
    via_sql = {
        r["lang"]: r["ndv"]
        for r in spark.sql(
            "SELECT lang, hll_ndv_agg(sketch) AS ndv"
            " FROM __sk_agg_test GROUP BY lang"
        ).collect()
    }
    for k in rolled:
        assert abs(via_sql[k] - rolled[k][0]) < 1e-9
    fine.unpersist()


def test_hll_ndv_multi_one_scan_bit_identical(spark, documents, tmp_path):
    """hll_ndv_multi: estimates bit-identical to per-column hll_ndv, and
    the physical plan reads the table ONCE (the whole point at 100 TB)."""
    from js_hll_spark.spark.agg import hll_ndv_multi

    path = str(tmp_path / "docs")
    documents.write.parquet(path)
    df = spark.read.parquet(path)
    multi = {
        r["column"]: r["ndv"]
        for r in hll_ndv_multi(df, ["text", "lang", "source"], log2m=12).collect()
    }
    for c in ("text", "lang", "source"):
        single = hll_ndv(df, c, log2m=12).first()["ndv"]
        assert multi[c] == single, c
    plan = (
        hll_ndv_multi(df, ["text", "lang", "source"], log2m=12)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan") == 1
    # nulls in one column must not leak into its sketch
    with_nulls = df.withColumn(
        "maybe", F.when(F.col("doc_id") % 2 == 0, F.col("lang"))
    )
    m = {
        r["column"]: r["ndv"]
        for r in hll_ndv_multi(with_nulls, ["maybe", "lang"], log2m=12).collect()
    }
    only_even = with_nulls.filter("maybe IS NOT NULL")
    assert m["maybe"] == hll_ndv(only_even, "maybe", log2m=12).first()["ndv"]


def test_introspection_and_set_algebra_udfs(spark, events):
    """postgresql-hll introspection parity (hll_schema_version / hll_log2m
    / hll_regwidth / hll_type / hll_error_bound — header-only reads) and
    the pairwise set-algebra estimators (intersection via
    inclusion-exclusion, jaccard), SQL-registered."""
    import math

    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    a = hll_sketch(
        events.filter("event_id % 3 != 0"), "user_id", log2m=12
    ).select(F.col("sketch").alias("a"))
    b = hll_sketch(
        events.filter("event_id % 3 != 1"), "user_id", log2m=12
    ).select(F.col("sketch").alias("b"))
    a.crossJoin(b).createOrReplaceTempView("__pair")
    row = spark.sql(
        """SELECT hll_schema_version(a) AS v, hll_log2m(a) AS l,
                  hll_regwidth(a) AS w, hll_type(a) AS t,
                  hll_error_bound(a) AS e,
                  hll_intersection(a, b) AS inter,
                  hll_intersection_error(a, b) AS ierr,
                  hll_jaccard(a, b) AS jac,
                  hll_cardinality(a) AS na, hll_cardinality(b) AS nb,
                  hll_cardinality(hll_union_pair(a, b)) AS nu
           FROM __pair"""
    ).first()
    assert row["v"] == 1 and row["l"] == 12 and row["w"] == 5
    assert row["t"] in ("SPARSE", "FULL")
    assert abs(row["e"] - 1.04 / math.sqrt(2**12)) < 1e-12
    # inclusion-exclusion identity holds exactly on the estimates
    assert abs(row["inter"] - (row["na"] + row["nb"] - row["nu"])) < 1e-9
    assert abs(row["jac"] - max(0.0, row["inter"]) / row["nu"]) < 1e-9
    # both filtered halves overlap in users seen in both thirds: the
    # estimates must land near the exact overlap
    exact = (
        events.filter("event_id % 3 != 0")
        .select("user_id")
        .intersect(events.filter("event_id % 3 != 1").select("user_id"))
        .count()
    )
    assert abs(row["inter"] - exact) / max(exact, 1) < 0.15
    # the quadrature error bound covers the observed deviation and is
    # dominated by the union term (reference caveat, README.markdown:62-69)
    assert row["ierr"] >= row["e"] * row["nu"]
    assert abs(row["inter"] - exact) < 3 * row["ierr"]


def test_raw_hash_method_addraw_parity(spark, events):
    """hash_method='raw' is the reference addRaw contract at DataFrame
    level: a column of already-64-bit-hashed values sketches bit-identically
    (dense and explicit) to letting the library hash the originals, when
    the raw column was produced by the same hash."""
    pre = events.select(
        "event_type", F.xxhash64("user_id").alias("h")
    )
    for engine in ("auto", "explicit"):
        via_raw = {
            r["event_type"]: (bytes(r["sketch"]), r["ndv"])
            for r in hll_sketch(
                pre, "h", by=["event_type"], log2m=12,
                hash_method="raw", engine=engine,
            ).collect()
        }
        direct = {
            r["event_type"]: (bytes(r["sketch"]), r["ndv"])
            for r in hll_sketch(
                events, "user_id", by=["event_type"], log2m=12, engine=engine
            ).collect()
        }
        assert via_raw == direct, engine


def test_hll_hash_sql_functions_ecosystem_parity(spark, events):
    """postgresql-hll's hll_hash_bigint/hll_hash_text as SQL functions:
    hashing in SQL and sketching the result with hash_method='raw' must
    produce byte-identical sketches to the library's own murmur3 path —
    the hash -> raw -> hex interop triangle a postgresql-hll user needs."""
    from js_hll_spark.hashing import murmur3_64
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    events.select("user_id").createOrReplaceTempView("__ev")
    pre = spark.sql("SELECT hll_hash_bigint(user_id) AS h FROM __ev")
    via_sql = hll_sketch(pre, "h", hash_method="raw", log2m=11).first()
    direct = hll_sketch(events, "user_id", hash_method="murmur3", log2m=11).first()
    assert bytes(via_sql["sketch"]) == bytes(direct["sketch"])
    # text variant cross-checks the scalar reference implementation
    row = spark.sql("SELECT hll_hash_text('foobar') AS h").first()
    want = murmur3_64(b"foobar")
    assert row["h"] == (want if want < 2**63 else want - 2**64)


def test_explicit_engine_exact_and_promotes(spark, events):
    """engine='explicit' is the exactness tier: below the auto explicit
    threshold every estimate EQUALS countDistinct (exact hash-set union,
    not near-exact linear counting — a dense sketch at m >> n can land
    at n-1 after floor/cast, which is why exact-claiming queries must
    not ride on the dense engines), and the merged sketch decodes as
    EXPLICIT. Past the threshold it promotes and stays within bound."""
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = hll_sketch(
        events, "user_id", by=["event_type"], log2m=16, engine="explicit"
    ).collect()
    for r in rows:
        assert r["ndv"] == exact[r["event_type"]], r["event_type"]
        assert HLL.from_bytes(bytes(r["sketch"]))._explicit is not None
    total = sum(r["rows_seen"] for r in rows)
    assert total == events.count()
    # tiny log2m -> tiny auto threshold -> promotion: estimate, not exact
    promoted = hll_sketch(events, "user_id", log2m=10, engine="explicit").first()
    n = events.select(F.countDistinct("user_id")).first()[0]
    assert HLL.from_bytes(bytes(promoted["sketch"]))._explicit is None
    assert abs(promoted["ndv"] - n) / n < 3 * BOUND(10)


def test_explicit_engine_null_group_keys(spark):
    """A null in the by-column must form one group (not split across
    Arrow batches / partitions) and stay exact, matching countDistinct's
    null-group semantics."""
    df = spark.createDataFrame(
        [(None if i % 3 == 0 else f"g{i % 2}", i % 37) for i in range(600)],
        ["grp", "val"],
    ).repartition(7)
    rows = hll_sketch(df, "val", by=["grp"], log2m=14, engine="explicit").collect()
    got = {r["grp"]: r["ndv"] for r in rows}
    want = {
        r["grp"]: r["n"]
        for r in df.groupBy("grp").agg(F.countDistinct("val").alias("n")).collect()
    }
    assert got == want
    # rows_seen is carried through the merge fold — the NULL group's
    # count included
    counts = {r["grp"]: r["count"] for r in df.groupBy("grp").count().collect()}
    assert {r["grp"]: r["rows_seen"] for r in rows} == counts
    assert None in counts


def test_merge_sketch_tables_null_key_rows_seen(spark):
    """merge_sketch_tables over two tables that share a NULL-keyed row:
    the NULL group merges into one row whose sketch is the union and
    whose rows_seen is the sum, like every other group."""
    from js_hll_spark.streaming.ndv import merge_sketch_tables

    def table(lo, hi):
        return spark.createDataFrame(
            [(None if i % 3 == 0 else f"g{i % 2}", i % 53) for i in range(lo, hi)],
            ["grp", "val"],
        )

    a, b = table(0, 400), table(400, 1000)
    merged = merge_sketch_tables(
        hll_sketch(a, "val", by=["grp"], log2m=14, engine="explicit"),
        hll_sketch(b, "val", by=["grp"], log2m=14, engine="explicit"),
        ["grp"],
    ).collect()
    both = a.unionByName(b)
    counts = {r["grp"]: r["count"] for r in both.groupBy("grp").count().collect()}
    assert None in counts
    assert {r["grp"]: r["rows_seen"] for r in merged} == counts
    want = {
        r["grp"]: r["n"]
        for r in both.groupBy("grp").agg(F.countDistinct("val").alias("n")).collect()
    }
    got = {
        r["grp"]: HLL.from_bytes(bytes(r["sketch"])).cardinality()
        for r in merged
    }
    assert got == want


def test_building_sketch_dataframes_runs_no_spark_job(spark, events, documents):
    """Building a sketch DataFrame must launch no Spark job — the
    explicit tier, merge_sketch_tables and heavy_hitters used to
    checkpoint eagerly (1, 5 and 1 jobs), and unkeyed hll_ndv probed a
    shuffled input's partition count (1 job); the harness's dense
    murmur3 mode and sketch_agg are guards. Each plan still runs when
    collected."""
    from js_hll_spark.spark.sketch_agg import heavy_hitters, sketch_agg
    from js_hll_spark.streaming.ndv import merge_sketch_tables

    a = hll_sketch(events.filter(F.col("user_id") % 2 == 0), "user_id",
                   by=["event_type"], log2m=10, hash_method="murmur3")
    b = hll_sketch(events.filter(F.col("user_id") % 2 == 1), "user_id",
                   by=["event_type"], log2m=10, hash_method="murmur3")
    shuffled = spark.range(200_000).select(F.col("id").alias("v")).repartition(8)
    tokens = documents.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    builds = {
        "explicit-keyed": lambda: hll_sketch(
            events, "user_id", by=["event_type"], log2m=12, engine="explicit"
        ),
        "explicit-global": lambda: hll_sketch(
            events, "user_id", log2m=12, engine="explicit"
        ),
        "merge-sketch-tables": lambda: merge_sketch_tables(a, b, ["event_type"]),
        "murmur3": lambda: hll_sketch(
            events, "user_id", by=["event_type"], log2m=12, hash_method="murmur3"
        ),
        "dense-unkeyed-shuffled": lambda: hll_ndv(shuffled, "v"),
        "kll": lambda: sketch_agg(events, "value", by=["event_type"], kind="kll"),
        "heavy-hitters": lambda: heavy_hitters(tokens, "tok", k=10),
        "heavy-hitters-keyed": lambda: heavy_hitters(
            tokens, "tok", by=["lang"], k=5
        ),
    }
    sc = spark.sparkContext
    for name, build in builds.items():
        group = f"lazy-build-{name}"
        sc.setJobGroup(group, "DataFrame construction only")
        try:
            out = build()
        finally:
            sc.setJobGroup(None, None)
        assert out.collect(), name
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_hll_hash_text_null_maps_to_null(spark):
    """postgresql-hll semantics: hll_hash_text(NULL) IS NULL; a null in
    a bigint batch raises loudly instead of silently hashing garbage
    (Arrow float64 coercion corrupts |v| > 2^53 upstream of the UDF)."""
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    rows = spark.sql(
        "SELECT hll_hash_text(x) AS h FROM VALUES ('a'), (NULL), ('b') t(x)"
    ).collect()
    assert rows[1]["h"] is None
    assert rows[0]["h"] is not None and rows[2]["h"] is not None
    import pytest as _pytest

    with _pytest.raises(Exception, match="NULL in input batch|float"):
        spark.sql(
            "SELECT hll_hash_bigint(x) AS h FROM VALUES (1L), (CAST(NULL AS LONG)) t(x)"
        ).collect()


def test_scalar_udfs_null_blobs_return_null(spark):
    """Every scalar sketch UDF maps a NULL blob to NULL instead of
    crashing the pandas worker (SQL NULL-propagation convention; an
    all-null group's hll_union_agg legitimately returns NULL and is then
    fed to these)."""
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    row = spark.sql(
        """SELECT hll_cardinality(CAST(NULL AS BINARY)) a,
                  hll_to_hex(CAST(NULL AS BINARY)) b,
                  hll_from_hex(CAST(NULL AS STRING)) c,
                  hll_type(CAST(NULL AS BINARY)) d,
                  hll_log2m(CAST(NULL AS BINARY)) e,
                  hll_regwidth(CAST(NULL AS BINARY)) f,
                  hll_schema_version(CAST(NULL AS BINARY)) g,
                  hll_error_bound(CAST(NULL AS BINARY)) h,
                  hll_intersection(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) i,
                  hll_intersection_error(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) j,
                  hll_jaccard(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) k,
                  hll_fold(CAST(NULL AS BINARY), 10) l"""
    ).first()
    assert all(row[c] is None for c in "abcdefghijkl")


def test_global_ndv_empty_input_returns_zero_row(spark):
    """countDistinct semantics: an empty or all-NULL input yields ONE
    global row with ndv 0 on every path (it used to return zero rows,
    silently vanishing from downstream crossJoins)."""
    import pyspark.sql.functions as F

    empty = spark.range(10).select(
        F.lit(None).cast("long").alias("v")
    )
    none_at_all = spark.range(0).select(F.col("id").alias("v"))
    for df in (empty, none_at_all):
        for hash_method, engine in (
            ("xxhash64", "auto"), ("murmur3", "auto"), ("xxhash64", "explicit")
        ):
            rows = hll_sketch(
                df, "v", log2m=10, hash_method=hash_method, engine=engine
            ).collect()
            assert len(rows) == 1, (hash_method, engine)
            assert rows[0]["ndv"] == 0.0 and rows[0]["rows_seen"] == 0


def test_unkeyed_seed_row_never_lowers_register_zero(spark):
    """The unkeyed Catalyst assembly folds an empty-input seed row
    (register 0, value 0) beside the real rows: a hash that lands in
    register 0 must keep its value whatever order the rows arrive in."""
    h = 1 << 11  # log2m=11: register 0, rho 1
    for n in (1, 4):
        df = spark.range(n).select(F.lit(h).cast("long").alias("v")).repartition(n)
        row = hll_sketch(df, "v", log2m=11, hash_method="raw").first()
        local = HLL(HLLConfig(11, 5), explicit_threshold=0, sparse_on=False)
        local.add_raw64(np.array([h], dtype=np.uint64))
        assert bytes(row["sketch"]) == local.to_bytes(), n
        assert row["ndv"] == local.algorithm_cardinality() > 0, n


def test_murmur3_rejects_float_columns(spark):
    """A double column would silently truncate through the int64 hash
    path; the API fails fast instead."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    df = spark.range(10).select((F.col("id") * 1.5).alias("v"))
    for engine in ("auto", "explicit"):
        with _pytest.raises(ValueError, match="integral/string/binary"):
            hll_sketch(df, "v", hash_method="murmur3", engine=engine)


def test_keyed_merge_carry_across_tiny_arrow_batches(spark, events):
    """The batched keyed merges carry group state across Arrow batch
    boundaries: forcing 7-row batches must change nothing — for the HLL
    harness merge (byte-identical sketches) AND the companion
    keyed merge (identical quantiles/rows), including a null group key."""
    import pyspark.sql.functions as F

    from js_hll_spark.spark.sketch_agg import approx_quantiles

    ev = events.withColumn(
        "g", F.when(F.col("user_id") % 7 == 0, None).otherwise(
            F.col("user_id") % 13
        )
    )

    def snapshot():
        hll = {
            r["g"]: (bytes(r["sketch"]), r["ndv"], r["rows_seen"])
            for r in hll_sketch(
                ev, "event_id", by=["g"], log2m=10, hash_method="murmur3"
            ).collect()
        }
        q = {
            r["g"]: r["q50"]
            for r in approx_quantiles(
                ev, "value", by=["g"], qs=(0.5,), method="kll",
                params={"k": 4096},
            ).collect()
        }
        return hll, q

    normal = snapshot()
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        tiny = snapshot()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)
    assert tiny == normal
    assert None in normal[0]  # the null group survived


def test_hll_fold_null_target_yields_null(spark):
    """A NULL fold target (which turns the int batch into float64 with
    NaN) must yield NULL for that row, not fail the task (review r5)."""
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    from js_hll_spark.spark.agg import hll_sketch

    df = spark.range(50).selectExpr("concat('u', id) AS u")
    hll_sketch(df, "u", log2m=11, regwidth=5).createOrReplaceTempView(
        "sk_foldnull"
    )
    row = spark.sql(
        """SELECT hll_fold(sketch, CASE WHEN false THEN 10 END) AS n,
                  hll_fold(sketch, 10) AS f
           FROM sk_foldnull"""
    ).first()
    assert row["n"] is None and row["f"] is not None


def test_hll_hash_text_bytes_and_nontext(spark):
    """hll_hash_text over a BINARY column hashes the raw bytes (same
    value as the utf-8 string path — NOT the Python repr, which the old
    str() coercion silently hashed); non-text columns raise."""
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    import pytest

    hs = spark.sql("SELECT hll_hash_text('ab') AS h").first()["h"]
    hb = (
        spark.createDataFrame([(bytearray(b"ab"),)], ["t"])
        .selectExpr("hll_hash_text(t) AS h")
        .first()["h"]
    )
    assert hb == hs
    with pytest.raises(Exception, match="hll_hash_text"):
        spark.createDataFrame([(7,)], ["t"]).selectExpr(
            "hll_hash_text(t) AS h"
        ).collect()


def test_default_cutoff_byte_threshold_alone_is_encoded():
    """default_cutoff_byte(explicit_threshold=t) must encode t — the old
    explicit_auto=True default silently discarded it (review r5)."""
    from js_hll_spark.config import default_cutoff_byte

    code = default_cutoff_byte(explicit_threshold=128) & 63
    assert code not in (0, 63) and 2 ** (code - 1) == 128
    # explicit call sites keep their behavior
    assert default_cutoff_byte(explicit_auto=True) & 63 == 63
    assert default_cutoff_byte(explicit_auto=False) & 63 == 0
    assert default_cutoff_byte() & 63 == 63


def test_retired_engines_raise(spark, events, tmp_path):
    """engine accepts only 'auto' and 'explicit': the dense register
    path follows hash_method, so the retired 'python' and 'sql' values
    raise instead of silently picking a path."""
    from js_hll_spark.streaming.ndv import streaming_ndv

    for engine in ("python", "sql"):
        with pytest.raises(ValueError, match="engine"):
            hll_sketch(events, "user_id", engine=engine)
        with pytest.raises(ValueError, match="engine"):
            hll_ndv(events, "user_id", by=["event_type"], engine=engine)
        with pytest.raises(ValueError, match="engine"):
            streaming_ndv(
                events, "user_id", ts_col="ts", state_dir=str(tmp_path),
                engine=engine,
            )
