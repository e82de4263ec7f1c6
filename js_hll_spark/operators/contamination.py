"""Benchmark-contamination detection for training-data pipelines.

The decontamination step every LLM data pipeline runs before training:
find training documents that contain evaluation-set content, so they can
be dropped (train/test leakage inflates benchmark scores). Detection is
shingle overlap — a training doc is contaminated to the degree its word
n-gram shingles appear anywhere in the eval corpus (the standard n-gram
decontamination rule; exact-substring is its shingle_n -> inf limit).

Two tiers, same output shape ``(doc_id, n_shingles, n_contaminated,
frac)``:

- ``contamination_exact``: inner-join the training posting table
  against the DISTINCT eval shingle set on 8-byte xxhash64 keys, count
  hits per doc. The eval side of the join is tiny relative to training
  (benchmarks are KBs-to-MBs against TBs), so AQE broadcasts it at
  runtime — no forced hint (an adversarially large eval corpus must
  degrade to a shuffle join, not OOM an executor). This tier is exact
  and DuckDB-reproducible (the registry oracles it).
- ``contamination_bloom``: the 100 TB path — the eval side runs as ONE
  job whose partitions emit their distinct 8-byte shingle hashes; the
  driver np.unique-merges them (8 B per distinct eval shingle of driver
  memory — the small-eval-side assumption the operator rests on),
  auto-sizes the filter from the exact count, and builds the Bloom blob
  locally. The blob broadcasts once and training postings probe it in a
  vectorized numpy pass per Arrow batch with partition-local partial
  aggregation: one partial row per (doc, Arrow batch) shuffles, the
  eval shingles themselves NEVER shuffle. (With an explicit ``n_bits``
  the driver-merge build still collects the distinct hash set — pick
  the exact tier instead if eval-side driver memory is the constraint.) Bloom's one-sided error means ``n_contaminated`` can only
  over-count (never a missed leak — the safe direction for
  decontamination); at the pytest sizing no false positive fires and
  the tier equals the exact one row-for-row.

Shingle universe: distinct word n-gram shingles per doc via
``dedup.shingle_postings`` — the same tokenizer/shingler the dedup
family and its DuckDB oracle mirrors already pin, so ``frac`` is a
fraction of the SAME distinct-shingle sets ``ngram_jaccard`` scores.
Docs with NULL text produce no shingles and are never reported
(consistent with count-distinct semantics: nothing to leak).

Hash convention: the Bloom blob is built by ``sketch_agg`` over the raw
shingle STRINGS (JVM-side ``xxhash64``), and probes carry the same
``xxhash64(sh)`` through ``contains_hashed`` — identical to the oracled
``bloom_membership`` pipeline, so build and probe conventions match by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import shingle_postings, shingles


def _train_postings(
    train: DataFrame | None,
    text_col: str,
    id_col: str,
    shingle_n: int,
    postings: DataFrame | None,
) -> DataFrame:
    if train is None and postings is None:
        raise ValueError(
            "pass train (raw documents) or postings (a shingle_postings "
            "table) — with neither there is nothing to check"
        )
    if postings is None:
        # lazy: each tier consumes the posting chain exactly once, so
        # there is nothing to share/materialize (unlike the composed
        # dedup tiers, where three stages re-read it)
        postings = shingle_postings(
            train, text_col, id_col, shingle_n=shingle_n, materialize=False
        )
    return postings


def eval_shingles(
    eval_df: DataFrame,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
) -> DataFrame:
    """The eval corpus' shingle stream (column ``sh``, per-doc
    distinct). Deliberately NOT globally distinct: the exact tier
    dedups on 8-byte hashes (a string-keyed distinct would shuffle the
    shingle text itself) and the Bloom build is idempotent per value
    (duplicate updates OR the same bits), so neither consumer needs —
    or should pay for — a string shuffle here."""
    return eval_df.select(
        F.explode(
            F.array_distinct(shingles(F.col(text_col), shingle_n))
        ).alias("sh")
    )


def contamination_exact(
    train: DataFrame | None = None,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    min_frac: float = 0.0,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact contamination fraction per training doc: the share of its
    distinct shingles that appear anywhere in the eval corpus. Returns
    ``(doc_id, n_shingles, n_contaminated, frac)`` for docs with
    rounded ``frac >= min_frac`` (rounded-value filtering — the repo's
    oracle-boundary convention).

    "Exact" carries one stated caveat (ADVICE r5): the join runs on
    8-byte ``xxhash64`` keys, not shingle strings, so a cross-corpus
    hash collision (probability ~2^-64 per train/eval shingle pair)
    would over-count ``n_contaminated`` by one — and, because the
    DuckDB oracle joins the strings themselves, surface as an oracle
    hash mismatch rather than silently. Hashed keys are the point at
    scale (the join shuffles 8 bytes instead of the shingle text); at
    gate scale the collision probability across all pairs is ~1e-11."""
    if eval_df is None:
        raise ValueError("pass eval_df (the evaluation corpus)")
    tr = _train_postings(train, text_col, id_col, shingle_n, postings).select(
        "__id", F.xxhash64("sh").alias("__h")
    )
    ev = (
        eval_shingles(eval_df, text_col, shingle_n=shingle_n)
        .select(F.xxhash64("sh").alias("__h"))
        .distinct()  # dedup on the 8-byte key, not the shingle string
    )
    # ONE pass over the posting chain: a left join against the (distinct
    # — so never row-multiplying) eval keys tags each posting with a hit
    # flag, and a single aggregate derives both counts. The obvious
    # two-branch formulation (sizes agg + inner-join agg) re-runs the
    # whole scan -> tokenize -> explode chain once per branch — measured
    # ~2x the wall time at sf0.1 for zero benefit.
    tagged = tr.join(
        ev.withColumn("__hit", F.lit(1)), "__h", "left"
    )  # no broadcast hint: AQE decides (module doc)
    out = (
        tagged.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_contaminated"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.col("n_shingles"), 6
            ).alias("frac"),
        )
    )
    return out.filter(F.col("frac") >= min_frac)


def contamination_bloom(
    train: DataFrame | None = None,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    min_frac: float = 0.0,
    n_bits: int | None = None,
    n_hashes: int = 7,
    fp_target: float = 1e-3,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Bloom-tier contamination: same output shape as
    :func:`contamination_exact`, with the eval shingle set compressed to
    one broadcast Bloom blob and probed executor-side (see module doc).
    Over-counts with the filter's one-sided FP rate; never
    under-counts.

    SIZING: by default (``n_bits=None``) the filter is auto-sized for
    ``fp_target`` from the EXACT distinct eval-shingle count (free with
    the single-job build below). A fixed undersized filter saturates
    silently: at ~1.8M eval shingles into 2^20 bits the per-shingle FP
    rate passes 0.6 and nearly every training doc crosses min_frac
    (measured on the dedup-axis corpus at 1.6M docs). Pass
    ``n_bits``/``n_hashes`` explicitly only for fixed memory budgets you
    have sized yourself (``n_hashes`` is ignored under auto sizing,
    where the optimal count is derived and capped at 30 — a tiny eval
    corpus against the 2^14-bit floor would otherwise ask for hundreds
    of index rows per probe batch for no FP benefit).

    The eval side runs as ONE job (VERDICT r5 #3): each partition emits
    its distinct 8-byte shingle hashes, the driver merges them with one
    ``np.unique`` — giving the exact distinct count for sizing AND the
    hash set to build the blob from, locally, with zero further jobs.
    Driver materialization is 8 bytes per distinct eval shingle, the
    same small-eval-side assumption the whole operator rests on (MBs for
    real benchmark suites; the blob itself was already a driver
    collect). Probe-side convention is unchanged: the blob's positions
    are derived from the same JVM ``xxhash64(sh)`` the probe carries.
    Construction stays EAGER (the one job fires now): the blob must
    exist before the probe plan can close over its broadcast — a
    serving-API trade, same as ann_ivfpq's query-side materialization.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from ..core.bloom import BloomFilter
    from ..hashing import to_uint64

    if eval_df is None:
        raise ValueError("pass eval_df (the evaluation corpus)")
    tr = _train_postings(train, text_col, id_col, shingle_n, postings).select(
        "__id", F.xxhash64("sh").alias("__h")
    )
    ev = eval_shingles(eval_df, text_col, shingle_n=shingle_n).select(
        F.xxhash64("sh").alias("__h")
    )

    def distinct_partial(batches):
        parts = [
            to_uint64(pdf["__h"].to_numpy()) for pdf in batches if len(pdf)
        ]
        if parts:
            arr = np.unique(np.concatenate(parts))
            yield pd.DataFrame({"__hs": [arr.tobytes()]})

    hash_rows = ev.mapInPandas(
        distinct_partial, schema=StructType([StructField("__hs", BinaryType())])
    ).collect()
    hashes = np.unique(
        np.concatenate(
            [np.frombuffer(r[0], dtype=np.uint64) for r in hash_rows]
        )
        if hash_rows
        else [np.empty(0, dtype=np.uint64)]
    )
    n = max(1, len(hashes))
    if n_bits is None:
        # BloomFilter.for_capacity's formula, 8-aligned; floor keeps tiny
        # eval sets from degenerate filters; k derived from the exact n
        # and capped (ADVICE r5: the floor would otherwise blow k up)
        n_bits = max(1 << 14, (int(-n * math.log(fp_target) / (math.log(2) ** 2)) + 7) // 8 * 8)
        n_hashes = max(1, min(30, round(n_bits / n * math.log(2))))
    bf = BloomFilter(n_bits, n_hashes)
    bf.add_hashed(hashes)
    # ship the ONE KB-sized blob as a TorrentBroadcast variable (a
    # bounded driver action — the index-build step, same contract as the
    # ANN train sample). A crossJoin(broadcast(blob)) would instead
    # stamp the n_bits/8-byte binary onto EVERY posting row through the
    # Arrow boundary — measured as a netty direct-memory OOM at 30M
    # postings x 128 KiB.
    bc = tr.sparkSession.sparkContext.broadcast(bf.to_bytes())

    id_dt = tr.schema["__id"].dataType
    part_schema = StructType(
        [
            StructField("__id", id_dt, False),
            StructField("__n", LongType(), False),
            StructField("__hit", LongType(), False),
        ]
    )

    def probe_fn(batches):
        bf = BloomFilter.from_bytes(bc.value)
        for pdf in batches:
            if not len(pdf):
                continue
            member = bf.contains_hashed(
                to_uint64(pdf["__h"].to_numpy())
            ).astype(np.int64)
            g = pd.DataFrame({"__id": pdf["__id"], "__m": member}).groupby(
                "__id", sort=False, dropna=False
            )
            agg = g["__m"].agg(["count", "sum"]).reset_index()
            yield pd.DataFrame(
                {
                    "__id": agg["__id"],
                    "__n": agg["count"].astype(np.int64),
                    "__hit": agg["sum"].astype(np.int64),
                }
            )

    partials = tr.mapInPandas(probe_fn, schema=part_schema)
    result = (
        partials.groupBy("__id")
        .agg(
            F.sum("__n").alias("n_shingles"),
            F.sum("__hit").alias("n_contaminated"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.col("n_shingles"), 6
            ).alias("frac"),
        )
    )
    result = result.filter(F.col("frac") >= min_frac)
    # sizing introspection (advisory attributes set on the returned
    # DataFrame): what the auto-sizer actually built
    result._bloom_n_bits = n_bits
    result._bloom_n_hashes = n_hashes
    result._bloom_n_distinct = int(len(hashes))
    return result
