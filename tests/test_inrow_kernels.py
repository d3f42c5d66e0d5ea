"""r14 in-row Arrow kernel pins: the per-doc MinHash signature and the
md5 SimHash fingerprint are pure functions of one row, so both moved
off the explode + wide interpreted aggregate onto one mapInPandas
kernel (guide §4.2; the r13 maxFields lesson), and the group-keyed
signature merges Arrow partial minima.  These tests pin each kernel
BIT-IDENTICAL to the aggregate form it replaced, kept here as a
test-local oracle — the aggregate form is what the DuckDB oracle
replays, so kernel == aggregate is the oracle-parity guarantee.
Synthetic edge rows cover the parity traps: empty text (both forms
hash one empty token/shingle), short text (< k chars: one truncated
shingle), null text (doc emits NO row in either form), multi-space
originals (normalization stays engine-side), and non-ASCII code points
(UTF-8 bytes + code-point slicing agree)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from duckdb_dbt_finance_warehouse_spark.operators import dedup

EDGE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, ""),  # empty: one empty shingle/token in BOTH forms
    (3, "ab"),  # shorter than k: one truncated shingle
    (4, None),  # null: absent from BOTH outputs
    (5, "  Weird   SPACING\tand CASE  "),  # normalization engine-side
    (6, "naïve café déjà vu — über schön"),  # non-ASCII code points
    (7, "x " * 300),  # long multiset with heavy repetition
]


def _edge_df(spark):
    return spark.createDataFrame(EDGE_DOCS, ["doc_id", "text"])


def simhash_aggregate(df, id_col, text_col, bits=60):
    """Reference SimHash: explode whitespace tokens, hash each with the
    first 15 hex chars of md5, sum ±1 per bit in one wide aggregate and
    set each fingerprint bit from the sign of its sum."""
    toks = df.select(
        F.col(id_col),
        F.explode(dedup.words(text_col)).alias("tok"),
    ).withColumn("th", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
    bit_sums = [
        F.sum(F.when(F.expr(f"(th >> {i}) & 1") == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    fp = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return toks.groupBy(id_col).agg(*bit_sums).select(F.col(id_col), fp.alias("simhash"))


def portable_signatures_aggregate(df, id_col, text_col, k=5, n_hashes=64, distinct=False):
    """Reference portable MinHash signature: explode shingles, hash each
    to a 28-bit md5 prefix x and take min((a_i*x + b_i) mod P) per key in
    one wide aggregate — rows sharing a key merge into one signature."""
    sh = dedup.shingles(df, id_col, text_col, k, distinct=distinct).withColumn(
        "x", F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("long")
    )
    mins = []
    for i in range(n_hashes):
        a, b = dedup.portable_hash_params(i)
        mins.append(
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % dedup.PORTABLE_PRIME).alias(f"mh_{i}")
        )
    return (
        sh.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]).alias("sig"))
    )


def test_portable_signatures_kernel_matches_aggregate(spark):
    df = _edge_df(spark)
    for k, n_hashes in ((5, 64), (4, 32), (8, 16)):
        agg = {
            r["doc_id"]: list(r["sig"])
            for r in portable_signatures_aggregate(
                df, "doc_id", "text", k, n_hashes
            ).collect()
        }
        row = {
            r["doc_id"]: list(r["sig"])
            for r in dedup.portable_signatures(
                df, "doc_id", "text", k, n_hashes
            ).collect()
        }
        assert agg == row, f"kernel != aggregate at k={k}, n_hashes={n_hashes}"
        # null text -> one resurrected null shingle -> all-null sig row
        assert row[4] == [None] * n_hashes


def test_simhash_kernel_matches_aggregate(spark):
    df = _edge_df(spark)
    for bits in (60, 48):
        agg = {
            r["doc_id"]: r["simhash"]
            for r in simhash_aggregate(df, "doc_id", "text", bits=bits).collect()
        }
        row = {
            r["doc_id"]: r["simhash"]
            for r in dedup.simhash(df, "doc_id", "text", bits=bits).collect()
        }
        assert agg == row, f"kernel != aggregate at bits={bits}"
        assert 4 not in row


def test_simhash_kernel_blocks_a_long_document(spark):
    """A document longer than one 65,536-token block: the blocked per-bit
    counts must give the aggregate form's fingerprint."""
    text = " ".join(f"w{(i * 7919) % 50021}" for i in range(70_000))
    df = spark.createDataFrame([(1, text), (2, "short doc")], ["doc_id", "text"])
    agg = {
        r["doc_id"]: r["simhash"]
        for r in simhash_aggregate(df, "doc_id", "text").collect()
    }
    row = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(df, "doc_id", "text").collect()
    }
    assert agg == row


def test_in_row_kernels_reject_duplicate_ids(spark):
    """The aggregate forms merge rows sharing an id; the in-row kernels
    would emit one row each, so a duplicate id in a batch must raise.
    Every row here has the same id, so any batch of two rows holds a
    duplicate however the input is spread."""
    import pytest

    df = spark.range(0, 256, 1, 1).selectExpr("7 AS doc_id", "concat('w ', id) AS text")
    for build in (
        lambda: dedup.simhash(df, "doc_id", "text"),
        lambda: dedup.portable_signatures(df, "doc_id", "text"),
    ):
        with pytest.raises(Exception, match="duplicate doc_id"):
            build().collect()


def test_group_arrow_minima_match_aggregate(spark):
    """The distinct=True GROUP path (dataset_overlap's shape): the Arrow
    segmented-min must equal the pure SQL wide-min aggregate, including
    a group whose only shingle hash is null."""
    rows = [(r % 3, t) for r, (_, t) in enumerate(EDGE_DOCS * 2)]
    df = spark.createDataFrame(rows, ["src", "text"])
    agg = {
        r["src"]: list(r["sig"])
        for r in portable_signatures_aggregate(
            df, "src", "text", 5, 64, distinct=True
        ).collect()
    }
    arrow = {
        r["src"]: list(r["sig"])
        for r in dedup.portable_signatures(
            df, "src", "text", 5, 64, distinct=True
        ).collect()
    }
    assert agg == arrow


def test_group_minima_keep_int64_keys_above_2_pow_53_apart(spark):
    """Group keys 2^53 and 2^53 + 1 are equal as float64; with a null
    key beside them (one partition, so one Arrow batch) the group kernel
    must still return three groups with the aggregate's minima."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("src", T.LongType()), T.StructField("text", T.StringType())]
    )
    rows = [
        (2**53, "the quick brown fox jumps"),
        (2**53 + 1, "completely different words here"),
        (None, "a third document with no key"),
    ]
    df = spark.createDataFrame(rows, schema).coalesce(1)
    agg = {
        r["src"]: list(r["sig"])
        for r in portable_signatures_aggregate(df, "src", "text", 5, 8, distinct=True).collect()
    }
    got = {
        r["src"]: list(r["sig"])
        for r in dedup.portable_signatures(df, "src", "text", 5, 8, distinct=True).collect()
    }
    assert len(agg) == 3
    assert got == agg


def test_a8_percentiles_match_spark_percentile_aggregate(spark):
    """The r14 grouped-counts + window rewrite of a8_exact_percentiles
    must reproduce Spark's ``percentile()`` aggregate BIT-for-bit (its
    getPercentile interpolation arithmetic is replicated expression by
    expression)."""
    import struct

    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata
    from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY

    sf = "/root/testdata/sf0.001"
    li = load_testdata(spark, sf, "lineitem")["lineitem"]
    old = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    new = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["n"])
        for r in REGISTRY["a8_exact_percentiles"].fn(spark, sf).collect()
    }

    def bits(t):
        return tuple(
            struct.pack("<d", v).hex() if isinstance(v, float) else v for v in t
        )

    assert set(old) == set(new)
    for flag in old:
        assert bits(old[flag]) == bits(new[flag]), flag


def test_a8_percentiles_keep_an_all_null_group(spark, tmp_path):
    """A flag group whose prices are all null surfaces with null p50/p90
    and its row count, as ``percentile()`` and DuckDB's quantile_cont
    give — it must not vanish from the output."""
    from pyspark.sql import types as T

    from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY

    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    rows = [("A", 1.0), ("A", 2.0), ("A", None), ("A", 4.0), ("N", None), ("N", None)]
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["n"])
        for r in REGISTRY["a8_exact_percentiles"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {"A": (2.0, 3.6, 4), "N": (None, None, 2)}
