"""Mergeable HLL aggregation over DataFrames — one dense register path
per hash.

Why not a GROUPED_AGG pandas UDF straight on raw rows: that shuffles the
*raw rows* to their groups — fatal at 10^12 rows (SURVEY.md §4.3-1).
Instead every path hashes once, JVM-side where it can
(:func:`_hashed_values`: ``F.xxhash64``, a raw long, or the raw column
for murmur3; Catalyst prunes the scan down to (keys, value)), then
reduces each partition before the only shuffle of sketch state:

- **xxhash64 / raw** (:func:`_dense_sketch`): Catalyst computes the
  registers as a two-phase ``max(rho)`` aggregate per (keys, register
  index); Python assembles <= m rows per group and runs the estimator.
- **murmur3, and the exact EXPLICIT tier**: the mapInPandas sketch
  harness (:mod:`.sketch_agg`, kind ``'hll'``) folds each partition to
  one sketch per key, then unions them — element-wise register max for
  dense files, the union monoid of src/hll.js:345-346.

Skew note: the partial stage is itself the skew mitigation — a hot key
('en' at 60%) still produces a bounded number of partial rows per
partition, so the merge shuffle is uniform in the number of partitions,
never in the number of raw rows.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..config import HLLConfig
from ..core.hll import HLL, estimate_from_registers
from .sketch_agg import _VAL, aggregate_sketches, keyed_carry_stream, merge_sketches

_SKETCH_COL = "sketch"
_ROWS_COL = "rows_seen"
_NDV_FIELDS = [StructField("ndv", DoubleType(), False)]


def check_engine(engine: str) -> None:
    """Reject an ``engine`` other than 'auto' or 'explicit' — the dense
    register path is picked by ``hash_method``, not by an engine."""
    if engine not in ("auto", "explicit"):
        raise ValueError(
            f"engine must be 'auto' or 'explicit', got {engine!r} — the "
            "dense register path follows hash_method"
        )


def _ndv(s: HLL) -> dict:
    return {"ndv": s.algorithm_cardinality()}


def _hashed_values(
    df: DataFrame, value_col: str, keys: list[str], hash_method: str
) -> DataFrame:
    """(keys..., ``__v``) for the sketch harness. NULL values are
    excluded, matching countDistinct semantics (a NULL would otherwise
    hash to a constant and count as one spurious value)."""
    df = df.filter(F.col(value_col).isNotNull())
    if hash_method == "xxhash64":
        return df.select(*keys, F.xxhash64(F.col(value_col)).alias(_VAL))
    if hash_method == "raw":
        # filter AFTER the cast: a non-castable value (string garbage)
        # yields a NULL hash that would otherwise crash the sketch update
        return df.select(
            *keys, F.col(value_col).cast("long").alias(_VAL)
        ).filter(F.col(_VAL).isNotNull())
    if hash_method == "murmur3":
        # AK murmur3 convention, hashed in the Python worker
        # (sketch_agg._hll_values): integral columns hash as their
        # 8-byte little-endian form; strings/binary hash as UTF-8 bytes.
        # The raw column crosses the Arrow boundary — the price of hash
        # compatibility with externally-built AK-ecosystem sketches.
        dtype = dict(df.dtypes)[value_col]
        col = F.col(value_col)
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            col = col.cast("long")
        elif dtype not in ("string", "binary"):
            # a float/decimal column would silently truncate through the
            # int64 conversion (1.1 and 1.9 hash identically) — fail
            # fast instead of estimating a wrong NDV
            raise ValueError(
                f"hash_method='murmur3' supports integral/string/binary "
                f"value columns, got {dtype} — cast explicitly first"
            )
        return df.select(*keys, col.alias(_VAL))
    raise ValueError(f"unknown hash method {hash_method!r}")


def hll_sketch(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
    hash_method: str = "xxhash64",
    estimate: bool = True,
    keep_sketch: bool = True,
    memory_budget_bytes: int = 256 << 20,
    engine: str = "auto",
    _count_rows: bool = True,
) -> DataFrame:
    """Sketch ``value_col`` per group. Returns one row per group with a
    spec-encoded ``sketch`` column, an ``ndv`` estimate and ``rows_seen``.

    ``hash_method``: 'xxhash64' (JVM, default), 'murmur3' (AK
    convention, numpy-vectorized in the worker; integral, string or
    binary value columns), or 'raw' — ``value_col`` already holds 64-bit
    hashed values and is sketched as-is (the reference's addRaw
    contract, src/hll.js:262-268, at DataFrame level; for interop with
    AK-ecosystem producers that hash upstream).

    ``engine='auto'`` (default) builds dense register files on the path
    the hash picks: xxhash64 and raw hashes stay in the JVM, where
    Catalyst computes the registers (:func:`_dense_sketch`); murmur3
    must hash in Python anyway, so it runs the mapInPandas sketch
    harness (:mod:`.sketch_agg`), which also honours
    ``memory_budget_bytes``. Both produce bit-identical sketches for the
    same hashes.

    ``engine='explicit'`` builds TRUE explicit-mode sketches on the
    harness: each partial's EXPLICIT set holds the exact 64-bit hashes
    (spec encoding preserves the type across the shuffle), merged per
    key by set union. While every per-key distinct count stays under the
    auto explicit threshold, the estimate is an exact count of distinct
    hashes — equal to countDistinct absent a 64-bit hash collision. This
    is the oracle tier: use it wherever a query claims exactness. (Dense
    estimates at m >> n are merely NEAR-exact — linear counting lands
    within ±1 and can flip a floor/cast, which is why exact claims must
    not ride on them.) State per key is bounded by the explicit
    threshold (8 bytes x threshold before promotion); past it the
    sketch promotes and estimates degrade gracefully to the dense
    tier's accuracy.

    Float/double group keys: NaN and NULL conflate across the Arrow
    boundary (both surface as NaN in pandas), so a NaN-keyed group
    merges into the null group in the Python-side assembly — cast such
    keys to string/int upstream if NaN must stay a distinct group.

    High-cardinality group keys: every path carries O(keys x m) state —
    the Catalyst path in its spill-capable HashAggregate, the harness in
    a byte-budgeted dict that flushes. Prefer a smaller log2m when
    sketching per-key over millions of keys (the error bound is per
    sketch, and tiny groups saturate far below m registers anyway).
    """
    config = HLLConfig(log2m, regwidth)  # fail fast on an invalid shape
    check_engine(engine)
    keys = list(by)
    if engine == "auto" and hash_method in ("xxhash64", "raw"):
        return _dense_sketch(
            df,
            value_col,
            keys,
            hash_method,
            config,
            estimate=estimate,
            keep_sketch=keep_sketch,
            count_rows=_count_rows,
        )

    params = {"log2m": log2m, "regwidth": regwidth, "hash_method": hash_method}
    if engine == "auto":
        # dense register files, byte-identical to the Catalyst path
        params.update(explicit_threshold=0, sparse_on=False)
    out = aggregate_sketches(
        _hashed_values(df, value_col, keys, hash_method),
        keys,
        kind="hll",
        params=params,
        finalize=_ndv if estimate else None,
        finalize_schema=_NDV_FIELDS if estimate else None,
        memory_budget_bytes=memory_budget_bytes,
    )
    return out.select(
        *keys,
        *([_SKETCH_COL] if keep_sketch else []),
        *(["ndv"] if estimate else []),
        _ROWS_COL,
    )


def _dense_sketch(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    hash_method: str,
    config: HLLConfig,
    *,
    estimate: bool,
    keep_sketch: bool,
    count_rows: bool,
) -> DataFrame:
    """The all-JVM dense path of hll_sketch: Catalyst computes the
    register file itself as ``groupBy(keys, register_index).agg(max(rho))``
    over the :func:`_hashed_values` projection, with rho = 1 + ctz(h >>
    log2m) expressed via ``bit_count`` — the whole per-row path stays
    inside whole-stage codegen and the partial HashAggregate collapses
    each partition to <= m rows per key before the shuffle. Python sees
    only <= m (index, value) rows per group, to assemble registers and
    run the estimator once.

    Trade-off vs the mapInPandas harness: no Arrow transfer of raw
    hashes (wins when rows >> m x partitions), but the shuffle carries
    up to m rows per (key, partition) instead of one ~m-byte blob.
    Results are bit-identical between the two paths (tested).
    """
    # UNKEYED ONLY: the partial HashAggregate emits m rows per PARTITION
    # before the only data shuffle, so the map-task count is a direct
    # multiplier on shuffle volume while per-task partial state is
    # EXACTLY m registers (~8 KB) no matter how many splits a task
    # absorbs — coalescing a batch input to defaultParallelism is
    # therefore a pure win (narrow, no shuffle; merge-order independence
    # keeps the sketch bit-identical), and a no-op on inputs that already
    # arrive in fewer partitions (coalesce never raises the count).
    # Measured: 24M-row webtext cache, 128 -> 32 tasks, 1.63 -> 0.81 s;
    # spark-submit scan at 16 MB splits, ndv leg flat at local[8] (6.28
    # vs 6.31 s) and 4.97 -> 3.05 s at local[32], ndv double
    # bit-identical in every run. The KEYED path deliberately keeps the
    # input partitioning: per-task partial state there is (keys-in-task
    # x m), and merging key-clustered splits multiplies it — measured
    # 15.8 -> 26.0 s on the (lang, day) grouped leg at local[8]
    # (time-clustered scan, ~80 splits/task).
    if not keys and not df.isStreaming:
        df = df.coalesce(df.sparkSession.sparkContext.defaultParallelism)
    hashed = _hashed_values(df, value_col, keys, hash_method)

    h = F.col(_VAL)
    idx = h.bitwiseAND(F.lit(config.register_index_mask)).alias("__idx")
    w = F.shiftrightunsigned(h, config.log2m)
    # ctz(w) = bit_count(~w & (w - 1)); rho = min(maxreg, ctz + 1), 0 if w=0
    ctz = F.bit_count(F.bitwise_not(w).bitwiseAND(w - F.lit(1)))
    rho = (
        F.when(w == 0, F.lit(0))
        .otherwise(F.least(F.lit(config.max_register_value), ctz + F.lit(1)))
        .alias("__rho")
    )
    # ``count_rows=False`` (the hll_ndv fast path, r7): callers that
    # discard rows_seen skip the second aggregation buffer — every input
    # row otherwise updates a count slot beside the max slot in the
    # partial HashAggregate, pure overhead when only ndv survives
    aggs = [F.max("__rho").alias("__val")]
    if count_rows:
        aggs.append(F.count(F.lit(1)).alias("__n"))
    per_register = (
        hashed.select(*keys, idx, rho).groupBy(*keys, "__idx").agg(*aggs)
    )
    if not count_rows:
        per_register = per_register.withColumn(
            "__n", F.lit(0).cast("long")
        )

    fields = [hashed.schema[k] for k in keys]
    if keep_sketch:
        fields.append(StructField(_SKETCH_COL, BinaryType(), False))
    if estimate:
        fields.append(StructField("ndv", DoubleType(), False))
    fields.append(StructField(_ROWS_COL, LongType(), False))
    schema = StructType(fields)

    def prepare(pdf):
        return (
            pdf["__idx"].to_numpy(),
            pdf["__val"].to_numpy().astype(np.uint8),
            pdf["__n"].to_numpy(),
        )

    def fold(state, ctx, start, end):
        idx_a, val_a, n_a = ctx
        if state is None:
            state = (np.zeros(config.m, dtype=np.uint8), 0)
        regs, nsum = state
        # max-merge, not assignment: (key, idx) rows are unique post-agg
        # EXCEPT for the unkeyed empty-input seed row (idx 0, val 0),
        # which must never overwrite a real register
        np.maximum.at(regs, idx_a[start:end], val_a[start:end])
        return regs, nsum + int(n_a[start:end].sum())

    def finish(key, state):
        regs, nsum = state
        row = list(key)
        if keep_sketch:
            s = HLL(config, explicit_threshold=0, sparse_on=False)
            s._regs = regs
            row.append(s.to_bytes())
        if estimate:
            row.append(estimate_from_registers(regs, config))
        row.append(nsum)
        return tuple(row)

    if not keys:
        # seed one (idx 0, val 0, n 0) row: an empty/all-null input must
        # still produce one global row with ndv 0 (countDistinct
        # semantics)
        seed = df.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("__idx"),
            F.lit(0).alias("__val"),
            F.lit(0).cast("long").alias("__n"),
        )
        return (
            per_register.unionByName(seed)
            .groupBy(F.lit(1).alias("__g"))
            .applyInPandas(
                lambda pdf: pd.DataFrame(
                    [finish((), fold(None, prepare(pdf), 0, len(pdf)))],
                    columns=schema.fieldNames(),
                ),
                schema=schema,
            )
        )

    # Keyed assembly streams WHOLE Arrow batches through one python call
    # instead of one applyInPandas call per group — per-group python
    # overhead (~ms) otherwise dominates at high key cardinality (1M
    # groups x 2 ms = half a python-hour on one stage). Same shuffle
    # count as groupBy (hash repartition + in-partition sort); shares
    # the carry skeleton with the sketch harness's keyed merge stage.
    return keyed_carry_stream(
        per_register, keys, schema, prepare=prepare, fold=fold, finish=finish
    )


def hll_ndv(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
    hash_method: str = "xxhash64",
    engine: str = "auto",
) -> DataFrame:
    """Approximate NDV(value_col) per group: (keys..., ndv double)."""
    out = hll_sketch(
        df,
        value_col,
        by,
        log2m=log2m,
        regwidth=regwidth,
        hash_method=hash_method,
        estimate=True,
        keep_sketch=False,
        engine=engine,
        # ndv drops rows_seen — skip its aggregation buffer
        _count_rows=False,
    )
    return out.select(*by, "ndv")


def hll_ndv_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
) -> DataFrame:
    """Approximate NDV of SEVERAL columns in ONE table scan. At 100 TB
    the scan dominates, so profiling a table's url/domain/text NDVs as
    separate hll_ndv calls pays the scan once per column; here each row
    is hashed once per column JVM-side, exploded into (column, hash)
    long form (narrow: a tag and 8 bytes — never the row), and sketched
    with the column tag as an extra group key. Estimates are
    bit-identical to per-column hll_ndv (same hashes, same registers;
    tested). Returns (keys..., column, ndv)."""
    keys = list(by)
    structs = [
        F.struct(
            F.lit(c).alias("__col"),
            F.xxhash64(F.col(c)).alias("__h"),
            F.col(c).isNull().alias("__isnull"),
        )
        for c in value_cols
    ]
    tagged = (
        df.select(*keys, F.explode(F.array(*structs)).alias("__s"))
        # per-column null filter AFTER the explode (xxhash64(NULL) is the
        # seed, not NULL — it must not count as a value)
        .filter(~F.col("__s.__isnull"))
        .select(
            *keys,
            F.col("__s.__col").alias("__col"),
            F.col("__s.__h").alias("__h"),
        )
    )
    out = _dense_sketch(
        tagged,
        "__h",
        keys + ["__col"],
        "raw",
        HLLConfig(log2m, regwidth),
        estimate=True,
        keep_sketch=False,
        count_rows=False,
    )
    return out.select(*keys, F.col("__col").alias("column"), "ndv")


def hll_rollup(
    df: DataFrame,
    by: Sequence[str],
    sketch_col: str = _SKETCH_COL,
    *,
    estimate: bool = True,
) -> DataFrame:
    """Re-aggregate a persisted sketch table to a coarser grain without
    touching raw data — the reference's ``union()`` at table scale
    (src/hll.js:328-349), run as the merge stage of the sketch harness.
    Input sketches are spec-encoded bytes and may mix
    EXPLICIT/SPARSE/FULL and even shapes (auto-fold applies). Returns
    (keys..., sketch[, ndv])."""
    keys = list(by)
    return merge_sketches(
        df.select(*keys, F.col(sketch_col).alias(_SKETCH_COL)),
        keys,
        kind="hll",
        finalize=_ndv if estimate else None,
        finalize_schema=_NDV_FIELDS if estimate else None,
    )
