"""Source/sink format coverage beyond the reference's CSV+parquet: the
JSON-lines and ORC readers/writers a Spark-native warehouse gets for
free must round-trip the warehouse tables losslessly with explicit
schemas (schema inference is banned on the ingest path, same rule as
sources/csv.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

SF = "/root/testdata/sf0.001"

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _docs(spark):
    return load_testdata(spark, SF, "documents")["documents"]


@pytest.mark.parametrize("fmt", ["json", "orc"])
def test_format_round_trip_lossless(spark, tmp_path, fmt):
    docs = _docs(spark)
    path = str(tmp_path / f"docs_{fmt}")
    docs.write.format(fmt).mode("overwrite").save(path)
    back = spark.read.format(fmt).schema(DOC_SCHEMA).load(path)
    assert back.schema == DOC_SCHEMA
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_json_reader_prunes_and_filters(spark, tmp_path):
    """Predicate + projection must reach the JSON scan (JSON can't push
    filters into the file like parquet, but column pruning shows in
    ReadSchema and the filter stays above the scan, not in Python)."""
    docs = _docs(spark)
    path = str(tmp_path / "docs_json")
    docs.write.format("json").mode("overwrite").save(path)
    q = (
        spark.read.format("json")
        .schema(DOC_SCHEMA)
        .load(path)
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "lang")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan
    assert q.count() == docs.filter("doc_id < 100").count()


def _ingest_inputs(spark, tmp_path):
    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    csv = tmp_path / "accounts.csv"
    csv.write_text("account_id,account_name\nA1,Acme\n")
    return Warehouse(spark, str(tmp_path / "wh")), str(csv)


def test_unknown_ingest_mode_raises_before_writing(spark, tmp_path):
    """An unknown mode raises even when the target does not exist yet,
    and nothing is written."""
    from duckdb_dbt_finance_warehouse_spark.sources.csv import ingest_csv

    wh, csv = _ingest_inputs(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown mode"):
        ingest_csv(wh, csv, "accounts", mode="upsert")
    assert not wh.exists("raw", "accounts")


def test_append_to_a_missing_table_is_one_write_per_output(spark, tmp_path, monkeypatch):
    """``append`` to a missing table creates it with one overwrite of
    the batch (not an empty write followed by an append); later batches
    append."""
    from duckdb_dbt_finance_warehouse_spark.sources.csv import ingest_csv
    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    wh, csv = _ingest_inputs(spark, tmp_path)
    writes = []
    real = Warehouse.write

    def recording(self, df, schema, table, mode="overwrite", **kw):
        writes.append((table, mode))
        return real(self, df, schema, table, mode=mode, **kw)

    monkeypatch.setattr(Warehouse, "write", recording)
    ingest_csv(wh, csv, "accounts", mode="append")
    assert writes == [("accounts", "overwrite")]
    assert wh.read("raw", "accounts").count() == 1
    ingest_csv(wh, csv, "accounts", mode="append")
    assert writes[1:] == [("accounts", "append")]
    assert wh.read("raw", "accounts").count() == 2


def test_load_testdata_reuses_schema_until_the_file_changes(spark, tmp_path):
    """The second load of an unchanged file passes the schema inferred
    the first time (no Spark job); a file replaced under the same name
    is inferred again and its new rows and columns are visible."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_dbt_finance_warehouse_spark.session import engine_counters

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}), path)

    def load():
        j0 = engine_counters(spark)[0]
        df = load_testdata(spark, str(tmp_path), "region")["region"]
        return df, engine_counters(spark)[0] - j0

    first, jobs = load()
    assert jobs >= 1 and first.count() == 2
    again, jobs = load()
    assert jobs == 0 and again.schema == first.schema and again.count() == 2

    nxt = str(tmp_path / "next.parquet")
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"], "r_comment": ["x"] * 3}),
        nxt,
    )
    os.replace(nxt, path)
    changed, jobs = load()
    assert jobs >= 1
    assert changed.columns == ["r_regionkey", "r_name", "r_comment"]
    assert changed.count() == 3
