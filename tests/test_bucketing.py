"""Bucketed co-located joins — the 100 TB repeated-join strategy
(SURVEY §4): write both sides bucketed by the join key, and the join
plans with NO shuffle exchange on either side."""

from __future__ import annotations

import contextlib
import io

import pytest

from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    import os

    wh = str(tmp_path_factory.mktemp("buckets"))
    t = load_testdata(spark, SF, "orders", "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # external bucketed tables (warehouse.dir is a static conf; an
    # explicit path keeps test artifacts in tmp)
    t["orders"].write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", os.path.join(wh, "b_orders")
    ).saveAsTable("b_orders")
    t["lineitem"].write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", os.path.join(wh, "b_lineitem")
    ).saveAsTable("b_lineitem")
    yield spark.table("b_orders"), spark.table("b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    orders, lineitem = bucketed
    # disable broadcast so the join strategy question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan  # co-located: no shuffle either side
        assert "SortMergeJoin" in plan
        # and it still computes the right thing
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_incremental_dedup_index_as_bucketed_table(spark, tmp_path):
    """The x_dedup_incremental production layout: the standing MinHash
    index stored as a table BUCKETED by the band join key. The band
    join then shuffles ONLY the new batch (one Exchange, on the probe
    side); the stored index is read straight out of its buckets — the
    'index-lookup, not a scan' shape the operator docstring promises —
    and pairs match the plain unbucketed operator bit-for-bit."""
    import io
    import os
    from contextlib import redirect_stdout

    from duckdb_dbt_finance_warehouse_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = load_testdata(spark, SF, "documents")["documents"]
    index_docs = docs.filter(F.col("doc_id") % 4 != 0)
    new_docs = docs.filter(F.col("doc_id") % 4 == 0)
    index_sigs = dedup.portable_signatures(index_docs, "doc_id", "text", k=5, n_hashes=64)
    index_bands = dedup.portable_bands(index_sigs, "doc_id", bands=16, n_hashes=64)

    wh = str(tmp_path)
    for name in ("idx_sigs", "idx_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    index_sigs.write.option("path", os.path.join(wh, "idx_sigs")).saveAsTable("idx_sigs")
    index_bands.write.bucketBy(8, "band", "bkey").option(
        "path", os.path.join(wh, "idx_bands")
    ).saveAsTable("idx_bands")
    try:
        stored_sigs = spark.table("idx_sigs")
        stored_bands = spark.table("idx_bands")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            pairs, _, _ = dedup.minhash_lsh_dedup_incremental(
                new_docs, stored_sigs, stored_bands, "doc_id", "text",
                k=5, n_hashes=64, bands=16, threshold=0.5,
            )
            got = sorted(map(tuple, pairs.select("id_a", "id_b").collect()))
            # the index side of the band join must come straight from
            # its buckets: bucket metadata on the scan, and only ONE
            # exchange partitions on the band key — the new batch being
            # shuffled INTO the index's bucket layout (the other
            # exchange is the batch's own signature aggregation)
            nb = dedup.portable_bands(
                dedup.portable_signatures(
                    new_docs, "doc_id", "text", k=5, n_hashes=64
                ),
                "doc_id", bands=16, n_hashes=64,
            ).select(F.col("doc_id").alias("id_a"), "band", "bkey")
            probe_join = nb.join(stored_bands, ["band", "bkey"])
            buf = io.StringIO()
            with redirect_stdout(buf):
                probe_join.explain("formatted")
            plan = buf.getvalue()
            assert "Bucketed: true" in plan, plan
            assert plan.count("hashpartitioning(band") == 1, plan
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
        # parity with the in-memory operator
        mem_sigs = dedup.portable_signatures(
            index_docs, "doc_id", "text", k=5, n_hashes=64
        )
        mem_bands = dedup.portable_bands(mem_sigs, "doc_id", bands=16, n_hashes=64)
        ref_pairs, _, _ = dedup.minhash_lsh_dedup_incremental(
            new_docs, mem_sigs, mem_bands, "doc_id", "text",
            k=5, n_hashes=64, bands=16, threshold=0.5,
        )
        assert got == sorted(map(tuple, ref_pairs.select("id_a", "id_b").collect()))
        assert got  # non-degenerate: the fixture corpus has near-dups
    finally:
        for name in ("idx_sigs", "idx_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pq_adc_topk_empty_probe_panel_degrades_to_empty_result(spark):
    """ADVICE r8: an upstream filter matching nothing must yield an
    empty frame with the serving schema, not a hard failure — scheduled
    jobs degrade gracefully."""
    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.operators import pq
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, "/root/testdata/sf0.001", "embeddings")["embeddings"]
    model = pq.pq_seed_codebooks(emb, n_subspaces=4, seed_mod=32)
    codes = pq.pq_encode(emb, model, n_subspaces=4)
    out = pq.pq_adc_topk(
        codes, emb.filter(F.col("vec_id") < 0), model, k=5, n_subspaces=4
    )
    assert out.columns == ["query_id", "cand_id", "adist", "rank"]
    assert out.count() == 0
