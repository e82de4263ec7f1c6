"""Focused equivalence guards for the r7 optimization rewrites: every
optimized operator must produce byte-identical results to the formulation
it replaced — on adversarial inputs, not just the fixture corpus.

Covers:
- the python shingle-posting kernel vs the Catalyst explode twin
  (whitespace classes, control chars, empties, NULLs, short docs);
- groupBy-collect + codegen pair combinations vs the old self-equi-join
  pair multiset (LSH band join and exact-Jaccard all-pairs tier);
- the packed-long pair aggregation vs the struct-keyed fallback;
- the vectorized order-preserving cosine kernel vs the higher-order
  aggregate chain, in both float32 and double forms;
- edge-restricted connected components vs an all-nodes reference.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# texts chosen to stress the normalization contract: Java-\s-only
# whitespace collapse (vertical tab \x0b IS Java \s; \x1c-\x1f are NOT),
# trim of chars <= U+0020, split-of-empty keeping [''], sub-n-token docs
_TRICKY = [
    (0, "plain three word shingles here"),
    (1, "  leading   and\t\ttrailing  \n"),
    (2, ""),
    (3, " "),
    (4, "one"),
    (5, "two words"),
    (6, "a\x0bb\fc\rd"),          # all Java \s separators
    (7, "ctrl\x1cchars\x1fstay"),  # \x1c/\x1f are NOT Java \s
    (8, None),
    (9, "dup dup dup dup dup"),
    (10, "Mixed CASE Tokens mixed case tokens"),
]


def _catalyst_postings(spark, df, n=3):
    from js_hll_spark.operators import dedup

    return df.select(
        F.col("doc_id").alias("__id"),
        F.explode(
            F.array_distinct(dedup.shingles(F.col("text"), n))
        ).alias("sh"),
    )


def test_posting_kernel_matches_catalyst_twin_on_tricky_text(spark):
    from js_hll_spark.operators.dedup import _shingle_rows_fast

    df = spark.createDataFrame(_TRICKY, "doc_id long, text string")
    for n in (2, 3):
        fast = _rows(_shingle_rows_fast(df, "text", "doc_id", n))
        ref = _rows(_catalyst_postings(spark, df, n))
        # deliberate divergence (latent-bug fix, see the kernel's
        # docstring): the old Catalyst chain emitted one (id, NULL)
        # posting row for NULL text — a phantom shingle that hashed to
        # the xxhash64 seed, contradicting both the documented contract
        # and the DuckDB oracles (unnest of NULL = no rows). The kernel
        # emits nothing for NULL text; everything else is byte-equal.
        ref = [r for r in ref if r[1] is not None]
        assert (8, None) not in fast
        assert fast == ref, f"shingle_n={n}"


def test_pair_structs_equal_selfjoin_multiset(spark):
    """The codegen i<j combination explode must reproduce exactly the
    pair multiset of the old a.key==b.key AND a.id<b.id self-join."""
    from js_hll_spark.operators.dedup import _pair_structs

    rows = [(k, i) for k in range(5) for i in range(k + 1)] + [(9, 42)]
    post = spark.createDataFrame(rows, "sh long, __id long")
    grouped = post.groupBy("sh").agg(
        F.sort_array(F.collect_list("__id")).alias("ids")
    )
    new = (
        grouped.filter(F.size("ids") >= 2)
        .select(F.explode(_pair_structs("ids")).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    a, b = post.alias("a"), post.alias("b")
    old = a.join(
        b,
        (F.col("a.sh") == F.col("b.sh")) & (F.col("a.__id") < F.col("b.__id")),
    ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    assert _rows(new) == _rows(old)


def test_ngram_packed_and_struct_paths_agree(spark, documents):
    """ngram_jaccard's packed-long pair aggregation (ids < 2^31) and the
    struct-keyed fallback must return identical rows. Shifting doc ids
    past 2^31 forces the fallback on otherwise identical text."""
    from js_hll_spark.operators import dedup

    docs = documents.limit(300)
    packed = _rows(
        dedup.ngram_jaccard(docs, shingle_n=3, threshold=0.2, max_shingle_df=50)
    )
    big = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1 << 32))
    fallback = _rows(
        dedup.ngram_jaccard(big, shingle_n=3, threshold=0.2, max_shingle_df=50)
    )
    shifted = sorted(
        (a - (1 << 32), b - (1 << 32), j) for a, b, j in fallback
    )
    assert packed == shifted
    assert len(packed) > 0  # the corpus must actually exercise the path


def test_ngram_jaccard_int_ids_match_bigint(spark):
    """IntegerType ids take the packed-long path too, so packing must
    widen them to long first: a Java int shift by 32 is a no-op, which
    folded every pair onto one key (a self-pair with jaccard 1.5). Int
    ids must give the rows of the same frame with bigint ids."""
    from js_hll_spark.operators import dedup

    text = [
        (1, "a b c d e"),
        (2, "a b c d f"),
        (3, "a b x y z"),
        (4, "q r s t u"),
        (5, "q r s t v"),
    ]
    ints = spark.createDataFrame(text, "doc_id int, text string")
    longs = ints.withColumn("doc_id", F.col("doc_id").cast("long"))
    got = _rows(dedup.ngram_jaccard(ints, shingle_n=3))
    assert got == _rows(dedup.ngram_jaccard(longs, shingle_n=3))
    assert got and all(a < b and 0 < j <= 1 for a, b, j in got)


def test_cosine_kernel_bit_identical_to_hof(spark):
    from js_hll_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    for cast in (False, True):
        e = emb
        if cast:
            e = e.withColumn(
                "embedding", F.transform("embedding", lambda x: x.cast("double"))
            )
        q = e.limit(3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        pairs = e.crossJoin(F.broadcast(q))
        hof = ann._dot(F.col("qv"), F.col("embedding")) / (
            F.sqrt(ann._dot(F.col("qv"), F.col("qv")))
            * F.sqrt(ann._dot(F.col("embedding"), F.col("embedding")))
        )
        mism = (
            pairs.select(
                hof.alias("old"),
                ann.cosine(F.col("qv"), F.col("embedding")).alias("new"),
            )
            .filter(~F.col("old").eqNullSafe(F.col("new")))
            .count()
        )
        assert mism == 0, f"cast={cast}"


def test_cosine_kernel_null_and_mismatch_semantics(spark):
    """NULL array or length mismatch -> NULL (the zip_with null-padding
    behavior); empty arrays -> NaN (0/0)."""
    import math

    from js_hll_spark.operators import ann

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [3.0, 4.0]),
            (2, None, [1.0]),
            (3, [1.0, 2.0], [1.0]),
            (4, [], []),
        ],
        "id long, a array<double>, b array<double>",
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", ann.cosine(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert got[1] is not None and abs(got[1] - (11.0 / (5.0**0.5 * 25.0**0.5))) < 1e-12
    assert got[2] is None
    assert got[3] is None
    assert got[4] is not None and math.isnan(got[4])


def test_connected_components_edge_restricted_loop_matches_semantics(spark):
    """Edge-restricted iteration + singleton emission must label exactly
    like the definitional closure: components over edges, singletons for
    isolated nodes, ids outside the node universe excluded."""
    from js_hll_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (50, 99)], "id_a long, id_b long"
    )
    # node universe: chain 1-2-3, pair 10-11, isolated 4 and 5; id 99 of
    # the (50, 99) edge is OUTSIDE the universe so 50 must stay singleton
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11, 50)], "doc_id long"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes=nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 10: 10, 11: 10, 50: 50}


def test_sql_engine_coalesces_wide_unkeyed_inputs_bit_identically(spark):
    """The sql engine coalesces batch inputs arriving in more partitions
    than cores before the UNKEYED partial aggregate (map tasks multiply
    the partial shuffle's m-row-per-partition volume; per-task state is
    exactly m registers, so merging splits is bounded). The KEYED path
    must keep the input partitioning: per-task state there is
    keys-in-task x m, and merging key-clustered splits multiplies it
    (measured 15.8 -> 26.0 s on a (lang, day) leg at local[8]). Guard
    all three: the Coalesce node appears exactly when partitions >
    defaultParallelism AND the agg is unkeyed, and results stay
    bit-identical across partition counts (merge-order independence)."""
    from js_hll_spark.spark.agg import hll_sketch

    cores = spark.sparkContext.defaultParallelism
    base = spark.range(0, 20_000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 3_000).alias("v")
    )
    wide = base.repartition(cores * 4)
    narrow = base.repartition(max(1, cores // 2))

    def qe(df):
        return df._jdf.queryExecution().toString()

    # unkeyed (the flagship shape): Coalesce iff wide; results identical
    assert "Coalesce" in qe(hll_sketch(wide, "v", log2m=11))
    assert "Coalesce" not in qe(hll_sketch(narrow, "v", log2m=11))
    g_wide = hll_sketch(wide, "v", log2m=11).collect()
    g_narrow = hll_sketch(narrow, "v", log2m=11).collect()
    assert [tuple(r) for r in g_wide] == [tuple(r) for r in g_narrow]

    # keyed: NEVER coalesced, results identical across partition counts
    assert "Coalesce" not in qe(hll_sketch(wide, "v", by=["k"], log2m=11))

    def rows(df):
        return sorted(
            (r["k"], bytes(r["sketch"]), r["ndv"], r["rows_seen"])
            for r in hll_sketch(df, "v", by=["k"], log2m=11).collect()
        )

    assert rows(wide) == rows(narrow)
