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


def test_jsonl_ingest_quarantines_corrupt_lines(spark, tmp_path):
    """ingest_jsonl splits a dirty JSONL batch: parseable, type-clean
    lines land in raw.<table> with lineage; malformed JSON AND
    type-drift lines land in raw.<table>__quarantine verbatim. Blank
    lines are skipped entirely."""
    from duckdb_dbt_finance_warehouse_spark.sources.jsonl import (
        DOCUMENT_SCHEMA,
        ingest_jsonl,
    )
    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    good_lines = [
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}',
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7}',
    ]
    bad_lines = [
        '{"doc_id": 3, "text": "truncated',  # malformed JSON
        '{"doc_id": "not-a-number", "text": "drift", "lang": "en", "source": "web", "n_chars": 5}',
        "<html>leaked markup</html>",
    ]
    p = tmp_path / "batch.jsonl"
    p.write_text("\n".join(good_lines + ["", bad_lines[0], bad_lines[1], "  ", bad_lines[2]]) + "\n")

    wh = Warehouse(spark, str(tmp_path / "wh"))
    good, quar = ingest_jsonl(wh, str(p), "documents", DOCUMENT_SCHEMA)

    assert sorted(r.doc_id for r in good.collect()) == [1, 2]
    assert set(good.columns) == {
        "doc_id", "text", "lang", "source", "n_chars", "ingested_at", "source_file",
    }
    assert {r.source_file for r in good.collect()} == {"batch.jsonl"}
    qrows = quar.collect()
    assert sorted(r.raw_line for r in qrows) == sorted(bad_lines)

    # append mode accumulates both sides
    ingest_jsonl(wh, str(p), "documents", DOCUMENT_SCHEMA, mode="append")
    assert wh.read("raw", "documents").count() == 4
    assert wh.read("raw", "documents__quarantine").count() == 6


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
