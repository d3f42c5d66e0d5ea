"""r14 in-row Arrow kernel pins: the per-doc MinHash signature and the
md5 SimHash fingerprint are pure functions of one row, so both moved
off the explode + wide interpreted aggregate onto one mapInPandas
kernel (guide §4.2; the r13 maxFields lesson).  These tests pin the
kernel BIT-IDENTICAL to the aggregate form it replaced — the aggregate
form is what the DuckDB oracle replays, so kernel == aggregate is the
oracle-parity guarantee.  Synthetic edge rows cover the parity traps:
empty text (both forms hash one empty token/shingle), short text
(< k chars: one truncated shingle), null text (doc emits NO row in
either form), multi-space originals (normalization stays engine-side),
and non-ASCII code points (UTF-8 bytes + code-point slicing agree)."""

from __future__ import annotations

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


def test_portable_signatures_kernel_matches_aggregate(spark):
    df = _edge_df(spark)
    for k, n_hashes in ((5, 64), (4, 32), (8, 16)):
        agg = {
            r["doc_id"]: list(r["sig"])
            for r in dedup.portable_signatures(
                df, "doc_id", "text", k, n_hashes, in_row=False, group_arrow=False
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
            for r in dedup.simhash(
                df, "doc_id", "text", bits=bits, hash_fn="md5", in_row=False
            ).collect()
        }
        row = {
            r["doc_id"]: r["simhash"]
            for r in dedup.simhash(
                df, "doc_id", "text", bits=bits, hash_fn="md5"
            ).collect()
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
        for r in dedup.simhash(df, "doc_id", "text", in_row=False).collect()
    }
    row = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(df, "doc_id", "text", in_row=True).collect()
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
        lambda: dedup.simhash(df, "doc_id", "text", in_row=True),
        lambda: dedup.portable_signatures(df, "doc_id", "text", in_row=True),
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
        for r in dedup.portable_signatures(
            df, "src", "text", 5, 64, distinct=True, in_row=False, group_arrow=False
        ).collect()
    }
    arrow = {
        r["src"]: list(r["sig"])
        for r in dedup.portable_signatures(
            df, "src", "text", 5, 64, distinct=True, in_row=False
        ).collect()
    }
    assert agg == arrow


def test_in_row_rejects_group_semantics():
    import pytest

    with pytest.raises(ValueError):
        dedup.portable_signatures(
            None, "doc_id", "text", 5, 64, distinct=True, in_row=True
        )


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
