"""The two-phase sketch aggregation harness — one partial -> merge path
for every mergeable sketch kind: HLL, count-min, KLL, t-digest, Bloom
(SURVEY.md §2.3: all are commutative-monoid merges, so they share
plumbing, partition-order story and salting behavior).

Why not a GROUPED_AGG pandas UDF straight on raw rows: that shuffles the
*raw rows* to their groups — fatal at 10^12 rows (SURVEY.md §4.3-1).
Instead:

1. **Partial stage** (``mapInPandas``, no shuffle): every input
   partition folds its Arrow batches into one sketch per group key,
   flushed as output rows whenever the state outgrows its memory
   budget. An unkeyed aggregate unions in one empty-sketch seed row, so
   an empty input still yields one row.
2. **Merge stage** (a shuffle of sketches only): keyed partials stream
   through :func:`keyed_carry_stream`; unkeyed partials meet in one
   ``applyInPandas`` group. ``rows_seen`` is carried through the same
   fold, so no second aggregate or join is needed.

Value transport — the caller projects the ``__v`` column:
- hash-positional sketches (hll, cms, bloom) consume ``F.xxhash64(col)``
  computed JVM-side; raw values never cross into Python
  (``hll_sketch`` may instead ship 64-bit hashes cast to long, or the
  raw column for murmur3, which the worker hashes)
- value sketches (kll, tdigest) consume the column cast to double

Skew note: the partial stage is itself the skew mitigation — a hot key
('en' at 60%) still produces one partial row per partition (per flush),
so the merge shuffle is uniform in the number of partitions, never in
the number of raw rows.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from ..config import HLLConfig
from ..core.bloom import BloomFilter
from ..core.cms import CountMinSketch
from ..core.hll import HLL
from ..core.kll import KLLSketch
from ..core.tdigest import TDigest
from ..hashing import murmur3_64_bytes, murmur3_64_uint64, to_uint64

_VAL = "__v"
_CNT = "__cnt"
_SKETCH_FIELDS = [
    StructField("sketch", BinaryType(), False),
    StructField("rows_seen", LongType(), False),
]


# ------------------------------------------------------- null-safe keys --


def eq_null_safe_cond(left, right, keys):
    """Fold an eqNullSafe key-equality join condition — a plain equality
    join silently DROPS null-keyed groups (NULL = NULL is not true in
    join conditions), the repo's recurring null-group bug class; every
    keyed sketch join goes through this."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    return cond


def _null_safe_change_mask(kcols: list[pd.Series]) -> np.ndarray:
    """Row mask marking group boundaries in key-sorted batches, treating
    null == null. Arrow->pandas surfaces nullable numeric/timestamp keys
    as NaN/NaT, and NaN != NaN would otherwise split a null-keyed group
    into one group per row."""
    n = len(kcols[0])
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for kc in kcols:
        na = kc.isna().to_numpy()
        vals = kc.to_numpy()
        with np.errstate(invalid="ignore"):
            neq = vals[1:] != vals[:-1]
        neq = np.asarray(neq, dtype=bool)
        # a pair of nulls is never a boundary; a single null always is
        # (covers float columns where NaN != NaN already reads True and
        # object columns where None != None reads False)
        both_na = na[1:] & na[:-1]
        one_na = na[1:] ^ na[:-1]
        change[1:] |= (neq & ~both_na) | one_na
    return change


def _key_tuple(kcols: list[pd.Series], i: int) -> tuple:
    """Group-key tuple at row ``i`` with NaN/NaT normalized to None so
    tuple equality across Arrow batch boundaries is null-safe."""
    vals = []
    for kc in kcols:
        v = kc.iloc[i]
        vals.append(None if pd.isna(v) else v)
    return tuple(vals)


def norm_group_key(g) -> tuple:
    """groupby().indices key as a NaN/NaT->None-normalized tuple.
    pandas materializes a FRESH NaN object per Arrow batch, so
    un-normalized dict lookups miss and a null-keyed group accretes one
    accumulator per batch instead of one per partition (results stay
    correct — the merge re-reduces — but state and shuffle inflate by
    the batch count)."""
    gk = g if isinstance(g, tuple) else (g,)
    return tuple(None if pd.isna(v) else v for v in gk)


def keyed_carry_stream(partials, group_cols, schema, *, prepare, fold, finish):
    """The sorted-stream-with-carry skeleton behind every keyed merge
    (the harness's merge stage and hll_sketch_sql's register assembly)
    — ONE implementation of the subtle part: null-safe group
    boundaries, per-segment folding, the cross-Arrow-batch carry, the
    end-of-iterator flush. One python call per Arrow batch instead of
    one applyInPandas call per group.

    ``prepare(pdf) -> batch_ctx`` runs once per Arrow batch (vectorized
    extraction); ``fold(state_or_None, batch_ctx, start, end) -> state``
    folds one contiguous same-key run; ``finish(key_tuple, state) ->
    row tuple`` emits a completed group. NaN/NaT keys surface as None
    in the key tuple (the null-group convention of every harness)."""
    out_cols = [f.name for f in schema.fields]
    group_cols = list(group_cols)
    sorted_partials = partials.repartition(*group_cols).sortWithinPartitions(
        *group_cols
    )

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur: tuple | None = None
        state = None
        for pdf in batches:
            if not len(pdf):
                continue
            kcols = [pdf[k] for k in group_cols]
            change = _null_safe_change_mask(kcols)
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], len(pdf))
            ctx = prepare(pdf)
            done = []
            for j in range(len(starts)):
                key = _key_tuple(kcols, int(starts[j]))
                if cur is not None and key != cur:
                    done.append(finish(cur, state))
                    state = None
                cur = key
                state = fold(state, ctx, int(starts[j]), int(ends[j]))
            if done:
                yield pd.DataFrame(done, columns=out_cols)
        if cur is not None:
            yield pd.DataFrame([finish(cur, state)], columns=out_cols)

    return sorted_partials.mapInPandas(stream, schema=schema)


# ---------------------------------------------------------------- kinds --


def _cms_update(s: CountMinSketch, v: np.ndarray, counts: np.ndarray | None = None) -> None:
    if counts is not None:
        # pre-aggregated (value, count) pairs from the JVM HashAggregate
        s.update_hashed(to_uint64(v), counts.astype(np.int64, copy=False))
        return
    # pre-aggregate the batch: real token streams repeat heavily, and one
    # np.add.at per unique value beats 130M scattered adds by 10-50x
    u, c = np.unique(to_uint64(v), return_counts=True)
    s.update_hashed(u, c)


def _bloom_update(s: BloomFilter, v: np.ndarray) -> None:
    u = np.unique(to_uint64(v))
    s.add_hashed(u)
    # n_items tracks insertions for the FPR estimate; count duplicates too
    s.n_items += int(v.size - u.size)


def _hll_values(col: pd.Series, p: dict) -> np.ndarray:
    """64-bit hashes for HLL.add_raw64. ``hash_method='murmur3'`` (AK
    convention, vectorized here in the worker): integral columns hash as
    their 8-byte little-endian form, strings/binary as UTF-8 bytes.
    Otherwise the column already holds hashes (xxhash64 or raw)."""
    if p.get("hash_method") != "murmur3":
        return to_uint64(col.to_numpy())
    if col.dtype == object or str(col.dtype).startswith("str"):
        return murmur3_64_bytes(col)
    return murmur3_64_uint64(to_uint64(col.to_numpy()))


_KINDS: dict[str, dict] = {
    # explicit_threshold=0, sparse_on=False gives dense register files
    # (hll_sketch engine='python'); the defaults give the exact
    # EXPLICIT tier (engine='explicit')
    "hll": {
        "factory": lambda p: HLL(
            HLLConfig(p.get("log2m", 13), p.get("regwidth", 5)),
            explicit_threshold=p.get("explicit_threshold", "auto"),
            sparse_on=p.get("sparse_on", True),
        ),
        "update": HLL.add_raw64,
        "values": _hll_values,
        "decode": HLL.from_bytes,
        "merge": HLL.union,
        "hashed": True,
    },
    "cms": {
        "factory": lambda p: CountMinSketch(p.get("depth", 5), p.get("width", 2048)),
        "update": _cms_update,
        "decode": CountMinSketch.from_bytes,
        "merge": CountMinSketch.merge,
        "hashed": True,
    },
    "bloom": {
        "factory": lambda p: BloomFilter(p.get("n_bits", 1 << 20), p.get("n_hashes", 5)),
        "update": _bloom_update,
        "decode": BloomFilter.from_bytes,
        "merge": BloomFilter.merge,
        "hashed": True,
    },
    "kll": {
        "factory": lambda p: KLLSketch(p.get("k", 200)),
        "update": lambda s, v: s.update(v),
        "decode": KLLSketch.from_bytes,
        "merge": KLLSketch.merge,
        "hashed": False,
    },
    "tdigest": {
        "factory": lambda p: TDigest(p.get("compression", 100.0)),
        "update": lambda s, v: s.update(v),
        "decode": TDigest.from_bytes,
        "merge": TDigest.merge,
        "hashed": False,
    },
}


# -------------------------------------------------------------- harness --


def aggregate_sketches(
    src: DataFrame,
    keys: Sequence[str],
    *,
    kind: str,
    params: dict | None = None,
    finalize: Callable[[object], dict] | None = None,
    finalize_schema: list[StructField] | None = None,
    memory_budget_bytes: int = 256 << 20,
) -> DataFrame:
    """Partial stage + merge stage over a projected ``src`` = (keys...,
    ``__v``[, ``__cnt``]); ``__cnt`` weights each value (pre-aggregated
    count-min input). Returns (keys..., sketch, rows_seen, *finalize
    columns).

    Spill-aware: partial state flushes to output rows when it exceeds
    ``memory_budget_bytes`` (the merge stage re-reduces duplicates)."""
    spec = _KINDS[kind]
    params = params or {}
    keys = list(keys)
    update = spec["update"]
    values = spec.get("values", lambda col, p: col.to_numpy())
    pre_counted = _CNT in src.columns
    partial_schema = StructType([src.schema[k] for k in keys] + _SKETCH_FIELDS)

    def partial_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, object] = {}
        rows: dict[tuple, int] = {}
        sketch_size: list[int] = []  # max serialized size observed so far
        # Variable-size kinds (kll/tdigest, explicit hll) serialize tiny
        # while empty (KLL 32 B empty vs ~2.5 KB populated), so a budget
        # fed only by the at-creation sample under-counts state by
        # 35-80x (ADVICE r3). The hard key cap therefore stays ACTIVE
        # permanently, not just until the first flush: a flush taken
        # while sketches are still small would otherwise re-arm the
        # budget with a stale size and admit millions of keys that then
        # grow under it. Each flush re-samples the max populated size,
        # which only ever tightens the byte budget; the cap bounds what
        # the budget cannot see. 4096 keys x the largest companion
        # partial (~640 KB CMS) = 2.6 GB worst case, and the merge stage
        # re-reduces duplicate key rows from extra flushes.
        key_cap = 4096

        def flush() -> pd.DataFrame:
            out = {k: [gk[i] for gk in acc] for i, k in enumerate(keys)}
            blobs = [s.to_bytes() for s in acc.values()]
            if blobs:
                sz = max(len(b) for b in blobs)
                if not sketch_size:
                    sketch_size.append(sz)
                else:
                    sketch_size[0] = max(sketch_size[0], sz)
            out["sketch"] = blobs
            out["rows_seen"] = [rows[gk] for gk in acc]
            acc.clear()
            rows.clear()
            return pd.DataFrame(out)

        for pdf in batches:
            v = values(pdf[_VAL], params)
            cnt = pdf[_CNT].to_numpy() if pre_counted else None
            if not keys:
                groups = {(): np.arange(len(pdf))}
            else:
                groups = {
                    norm_group_key(g): idx
                    for g, idx in pdf.groupby(
                        keys, sort=False, dropna=False
                    ).indices.items()
                }
            for gk, idx in groups.items():
                s = acc.get(gk)
                if s is None:
                    s = acc[gk] = spec["factory"](params)
                    rows[gk] = 0
                    if not sketch_size:
                        # sample NOW, not at first flush — an unsampled
                        # budget lets 4096 full sketches accumulate
                        # (640 KB CMS x 4096 = 2.6 GB) before any check
                        sketch_size.append(len(s.to_bytes()))
                if pre_counted:
                    update(s, v[idx], cnt[idx])
                    rows[gk] += int(cnt[idx].sum())
                else:
                    update(s, v[idx])
                    rows[gk] += len(idx)
            over_budget = (
                sketch_size and len(acc) * sketch_size[0] > memory_budget_bytes
            )
            if over_budget or len(acc) >= key_cap:
                yield flush()
        if acc:
            yield flush()

    partials = src.mapInPandas(partial_fn, schema=partial_schema)
    if not keys:
        # empty-input seed, built ON AN EXECUTOR via spark.range(1):
        # Spark never invokes Python workers on empty relations, so
        # without it an empty/all-null input returns zero rows instead
        # of one empty-sketch row (countDistinct returns 0, not no rows)
        def seed_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for _ in batches:
                pass
            yield pd.DataFrame(
                {"sketch": [spec["factory"](params).to_bytes()], "rows_seen": [0]}
            )

        seed = src.sparkSession.range(1).mapInPandas(seed_fn, schema=partial_schema)
        partials = partials.unionByName(seed)
    return merge_sketches(
        partials, keys, kind=kind, finalize=finalize, finalize_schema=finalize_schema
    )


def merge_sketches(
    partials: DataFrame,
    keys: Sequence[str],
    *,
    kind: str,
    finalize: Callable[[object], dict] | None = None,
    finalize_schema: list[StructField] | None = None,
) -> DataFrame:
    """Merge stage: fold ``partials`` = (keys..., sketch[, rows_seen])
    rows of ``kind`` sketches to one row per group; rows_seen, when the
    input carries it, is summed in the same fold. The scan order is
    deterministic. NaN/NaT group keys are emitted as NULL. Returns
    (keys..., sketch[, rows_seen], *finalize columns);
    ``finalize(sketch) -> {col: value}`` runs once per merged group."""
    spec = _KINDS[kind]
    decode, merge = spec["decode"], spec["merge"]
    keys = list(keys)
    in_schema = partials.schema
    counted = "rows_seen" in in_schema.fieldNames()
    fin_fields = list(finalize_schema or [])
    fin_cols = [f.name for f in fin_fields]
    schema = StructType(
        [in_schema[k] for k in keys]
        + _SKETCH_FIELDS[: 2 if counted else 1]
        + fin_fields
    )

    def prepare(pdf):
        return pdf["sketch"].to_numpy(), (
            pdf["rows_seen"].to_numpy() if counted else None
        )

    def fold(state, ctx, start, end):
        blobs, rseen = ctx
        acc, rows_acc = state if state is not None else (None, 0)
        for i in range(start, end):
            s = decode(bytes(blobs[i]))
            acc = s if acc is None else merge(acc, s)
        if counted:
            rows_acc += int(rseen[start:end].sum())
        return acc, rows_acc

    def finish(key, state):
        acc, rows_acc = state
        row = [*key, acc.to_bytes(), *([rows_acc] if counted else [])]
        if finalize is not None:
            fin = finalize(acc)
            row += [fin[c] for c in fin_cols]
        return tuple(row)

    if keys:
        return keyed_carry_stream(
            partials, keys, schema, prepare=prepare, fold=fold, finish=finish
        )

    def merge_all(pdf: pd.DataFrame) -> pd.DataFrame:
        row = finish((), fold(None, prepare(pdf), 0, len(pdf)))
        return pd.DataFrame([row], columns=schema.fieldNames())

    return partials.groupBy().applyInPandas(merge_all, schema=schema)


def sketch_agg(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    kind: str,
    params: dict | None = None,
    finalize: Callable[[object], dict] | None = None,
    finalize_schema: list[StructField] | None = None,
    memory_budget_bytes: int = 256 << 20,
) -> DataFrame:
    """Aggregate ``value_col`` into one ``kind`` sketch per group.

    Returns (keys..., sketch binary, rows_seen long, *finalize columns).
    ``finalize(sketch) -> {col: value}`` runs once per merged group.

    Spill-aware: partial state flushes to output rows when it exceeds
    ``memory_budget_bytes`` (the merge stage re-reduces duplicates).
    """
    spec = _KINDS[kind]
    params = params or {}
    keys = list(by)

    # CMS is linear in counts, so duplicates collapse JVM-side first: a
    # two-phase HashAggregate reduces the Arrow boundary from one row per
    # input row to one row per distinct value — for Zipf token streams
    # that's a 10^4-10^6x cut in what crosses into Python, and the shuffle
    # moves only per-partition uniques (never worse than shipping rows).
    # countDistinct-style null exclusion (the hll harness convention):
    # xxhash64(NULL) returns the seed, so unfiltered NULLs would
    # materialize as one phantom value (bloom: NULL probes report
    # member; cms: phantom heavy hitter with the null count)
    df = df.filter(F.col(value_col).isNotNull())
    if kind == "cms" and params.get("pre_aggregate", True):
        src = (
            df.select(*keys, F.xxhash64(F.col(value_col)).alias(_VAL))
            .groupBy(*keys, _VAL)
            .agg(F.count(F.lit(1)).alias(_CNT))
        )
    elif spec["hashed"]:
        src = df.select(*keys, F.xxhash64(F.col(value_col)).alias(_VAL))
    else:
        # numeric kinds: NaN is a NON-null double (survives the isNotNull
        # filter above) that the sketch's own update() silently strips —
        # drop it JVM-side so the merged sketch's item count and the
        # reported rows_seen agree
        src = df.select(
            *keys, F.col(value_col).cast("double").alias(_VAL)
        ).filter(F.col(_VAL).isNotNull() & ~F.isnan(F.col(_VAL)))

    return aggregate_sketches(
        src,
        keys,
        kind=kind,
        params=params,
        finalize=finalize,
        finalize_schema=finalize_schema,
        memory_budget_bytes=memory_budget_bytes,
    )


# ------------------------------------------------------------ pipelines --


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    method: str = "kll",
    params: dict | None = None,
) -> DataFrame:
    """(keys..., q50, q90, ... doubles) via KLL or t-digest — the sketch
    twin of ``percentile``/``percentile_approx`` (SURVEY.md §2.2)."""
    from pyspark.sql.types import DoubleType

    cols = [f"q{int(q * 100) if q * 100 == int(q * 100) else str(q).replace('.', '_')}" for q in qs]

    def fin(s) -> dict:
        vals = s.quantiles(list(qs))
        return dict(zip(cols, vals))

    out = sketch_agg(
        df,
        value_col,
        by,
        kind=method,
        params=params,
        finalize=fin,
        finalize_schema=[StructField(c, DoubleType(), True) for c in cols],
    )
    return out.select(*by, *cols)


class SpaceSavingCounter:
    """Bounded top-frequency counter with the space-saving overestimate
    invariant: memory is independent of key cardinality, and truncation
    never zeroes a value — everything evicted had count <= ``floor``, so
    a reappearing value resumes from that floor. tracked >= true count
    for every tracked value, which means a true heavy hitter cannot be
    displaced by a count restart (the flaw of plain periodic nlargest
    truncation, VERDICT r2 advice)."""

    def __init__(self, pool: int, *, slack: int = 8) -> None:
        self.pool = pool
        self.cap = slack * pool
        self.keep = max(2 * pool, self.cap // 2)
        self.counts: pd.Series | None = None
        self.floor = 0.0

    def update(self, batch_counts: pd.Series) -> None:
        c = batch_counts.astype("float64")
        if self.counts is None:
            self.counts = c
        else:
            if self.floor:
                # only values NOT currently tracked get the floor credit
                new = ~c.index.isin(self.counts.index)
                if new.any():
                    c = c.copy()
                    c[new] += self.floor
            self.counts = self.counts.add(c, fill_value=0)
        if len(self.counts) > self.cap:
            self.counts = self.counts.nlargest(self.keep)
            # every dropped count was <= the smallest kept one
            self.floor = max(self.floor, float(self.counts.iloc[-1]))

    def top(self, n: int) -> pd.Series | None:
        if self.counts is None:
            return None
        return self.counts.nlargest(n)


def heavy_hitters(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    *,
    k: int = 20,
    depth: int = 5,
    width: int = 8192,
    candidate_pool: int | None = None,
    candidates: str = "partition",
) -> DataFrame:
    """Approximate top-k frequent values — per ``by`` group when given: a
    candidate set is scored against the group's count-min sketch; top-k
    by estimated count. Returns (keys..., value, est_count).

    Candidate generation (``candidates``):
    - 'partition' (default, the sketch-driven scale path): each partition
      nominates its local top values via a bounded space-saving counter
      per group (mapInPandas). Only pool x partitions x groups candidate
      strings ever shuffle; a true heavy hitter is by pigeonhole a local
      heavy hitter in at least one partition, and the CMS (not the lossy
      local counts) produces the reported estimates. Per-partition state
      is bounded per GROUP — with very many groups per partition prefer
      'jvm' (or pre-partition by the group keys).
    - 'jvm': exact two-phase HashAggregate count + per-group window
      top-pool. The map-side partial agg collapses per-partition
      duplicates before the shuffle, but the shuffle still carries the
      full distinct key space — this is the exact twin for oracles/tests,
      not the 100 TB default.

    The CMS remains the persistable, mergeable frequency artifact either
    way; its one-sided error bounds the reported counts
    (SURVEY.md §2.2 'frequency')."""
    from pyspark.sql.types import StringType

    keys = list(by)
    src = df.select(
        *keys, F.col(col).cast("string").alias(_VAL)
    ).filter(F.col(_VAL).isNotNull())
    # r7: the candidate pass and the CMS build are two full consumers of
    # the (typically exploded-token) input chain — materialize it once
    # so the second pass reads blocks instead of re-running
    # scan -> tokenize -> explode (the value stream is a narrow single
    # column, so the checkpoint is small relative to recomputing it)
    src = src.localCheckpoint()
    pool = candidate_pool or max(200, 10 * k)
    if keys:
        return _heavy_hitters_grouped(
            src, keys, k=k, depth=depth, width=width, pool=pool,
            candidates=candidates,
        )

    if candidates == "jvm":
        cand = (
            src.groupBy(_VAL)
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.desc("__n"), F.asc(_VAL))
            .limit(pool)
            .select(F.col(_VAL).alias("value"))
        )  # global path continues below
    else:

        def candidates_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            counter = SpaceSavingCounter(pool)
            for pdf in batches:
                counter.update(pdf[_VAL].value_counts())
            top = counter.top(pool)
            if top is not None:
                yield pd.DataFrame({"value": top.index.astype(str)})

        cand = src.mapInPandas(
            candidates_fn, schema=StructType([StructField("value", StringType())])
        ).distinct()

    cms_df = sketch_agg(src, _VAL, kind="cms", params={"depth": depth, "width": width})
    sketch_blob = cms_df.select("sketch")

    # collapse candidates to ONE row before meeting the blob — the same
    # blob-crosses-once shape as the grouped path; a per-candidate
    # crossJoin would duplicate the (depth x width x 8)-byte blob onto
    # every one of the ~pool candidate rows through the final shuffle.
    # Candidate strings hash JVM-side so probe positions match the build.
    cand_g = cand.withColumn("__h", F.xxhash64("value")).agg(
        F.collect_list(F.struct("value", "__h")).alias("__cands")
    )
    joined = cand_g.crossJoin(sketch_blob)

    def score_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = CountMinSketch.from_bytes(bytes(pdf["sketch"].iloc[0]))
        cands = pdf["__cands"].iloc[0]
        vals = [c["value"] for c in cands]
        hs = to_uint64(np.array([c["__h"] for c in cands], dtype=np.int64))
        est = sk.query_hashed(hs)
        return pd.DataFrame({"value": vals, "est_count": est})

    scored = joined.groupBy(F.lit(1).alias("__g")).applyInPandas(
        score_fn,
        schema=StructType(
            [StructField("value", StringType()), StructField("est_count", LongType())]
        ),
    )
    return scored.orderBy(F.desc("est_count"), F.asc("value")).limit(k)


def _heavy_hitters_grouped(
    src: DataFrame,
    keys: list[str],
    *,
    k: int,
    depth: int,
    width: int,
    pool: int,
    candidates: str,
) -> DataFrame:
    """Per-group heavy hitters: one CMS per group (sketch_agg ``by``),
    per-group candidate nomination, candidates join their group's sketch
    on the keys (co-partitioned equi-join, no broadcast of all sketches),
    and a per-group window top-k. src = (keys..., _VAL string)."""
    from pyspark.sql.types import StringType
    from pyspark.sql.window import Window

    key_fields = [src.schema[kcol] for kcol in keys]
    if candidates == "jvm":
        w_pool = Window.partitionBy(*keys).orderBy(F.desc("__n"), F.asc(_VAL))
        cand = (
            src.groupBy(*keys, _VAL)
            .agg(F.count(F.lit(1)).alias("__n"))
            .withColumn("__rn", F.row_number().over(w_pool))
            .filter(F.col("__rn") <= pool)
            .select(*keys, F.col(_VAL).alias("value"))
        )
    else:
        cand_schema = StructType(
            key_fields + [StructField("value", StringType())]
        )

        def candidates_fn(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            counters: dict[tuple, SpaceSavingCounter] = {}
            for pdf in batches:
                for gkey, sub in pdf.groupby(keys, dropna=False, sort=False):
                    gkey = norm_group_key(gkey)
                    c = counters.get(gkey)
                    if c is None:
                        c = counters[gkey] = SpaceSavingCounter(pool)
                    c.update(sub[_VAL].value_counts())
            rows = []
            for gkey, c in counters.items():
                top = c.top(pool)
                if top is not None:
                    rows.extend(tuple(gkey) + (str(v),) for v in top.index)
            if rows:
                yield pd.DataFrame(rows, columns=[*keys, "value"])

        cand = src.mapInPandas(candidates_fn, schema=cand_schema).distinct()

    cms_df = sketch_agg(
        src, _VAL, keys, kind="cms", params={"depth": depth, "width": width}
    )
    # one candidates-row per group joins one sketch-row per group, so
    # each group's CMS blob crosses the shuffle ONCE (a per-candidate
    # equi-join duplicated the ~blob x candidates payload); eqNullSafe
    # keeps a null-keyed group, which a plain key join silently drops
    cand_g = (
        cand.withColumn("__h", F.xxhash64("value"))
        .groupBy(*keys)
        .agg(F.collect_list(F.struct("value", "__h")).alias("__cands"))
    )
    sk_sel = cms_df.select(*keys, "sketch")
    joined = cand_g.join(sk_sel, eq_null_safe_cond(cand_g, sk_sel, keys)).select(
        *[cand_g[kcol] for kcol in keys], "__cands", "sketch"
    )
    score_schema = StructType(
        key_fields
        + [
            StructField("value", StringType()),
            StructField("est_count", LongType()),
        ]
    )

    def score_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(len(pdf)):
                sk = CountMinSketch.from_bytes(bytes(pdf["sketch"].iloc[i]))
                cands = pdf["__cands"].iloc[i]
                vals = [c["value"] for c in cands]
                hs = to_uint64(
                    np.array([c["__h"] for c in cands], dtype=np.int64)
                )
                est = sk.query_hashed(hs)
                out = {
                    kcol: [pdf[kcol].iloc[i]] * len(vals) for kcol in keys
                }
                out["value"] = vals
                out["est_count"] = est
                yield pd.DataFrame(out)

    scored = joined.mapInPandas(score_stream, schema=score_schema)
    w = Window.partitionBy(*keys).orderBy(F.desc("est_count"), F.asc("value"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(*keys, "value", "est_count")
    )
