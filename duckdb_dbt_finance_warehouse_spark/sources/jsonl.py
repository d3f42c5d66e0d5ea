"""JSON-lines ingestion with corrupt-line quarantine — the raw layer
for document corpora.

The reference ingests CSV feeds (scripts/load_csvs_to_duckdb.py); a
training-data warehouse ingests JSONL crawls, where a fraction of lines
is always malformed (truncated records, invalid UTF-8 escapes, raw HTML
that leaked into the dump). Dropping them silently biases the corpus;
failing the job on one bad line is worse. This ingest path splits every
batch into ``raw.<table>`` (parsed, lineage-stamped — same contract as
sources/csv.ingest_csv) and ``raw.<table>__quarantine`` (the raw line +
lineage, for audit/repair).

Scale design: the file is read as splittable text (byte-range splits,
same as CSV) and parsed with ``from_json`` — JVM-codegen'd, no Python,
no shuffle; the good/quarantine outputs are two filters over that scan
(one pass each — two total, both shuffle-free; corrupt rates are
typically <<1%, so the quarantine pass is scan-bound, not write-bound). This deliberately avoids ``spark.read.json`` +
``_corrupt_record``, which (a) forbids queries that reference only the
corrupt column (SPARK-21610: requires caching the whole parse to
inspect bad rows) and (b) would re-run schema inference if the schema
were omitted. Schemas are EXPLICIT, same rule as sources/csv.py.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.lineage import lineage_columns
from .csv import write_raw
from .tables import Warehouse

#: Raw-layer schema for JSONL document corpora (mirrors testdata
#: documents.parquet; n_chars recomputed downstream when absent).
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

_CORRUPT = "_corrupt_record"


def parse_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Parse a JSONL path into (good, quarantined) frames.

    ``good`` has exactly ``schema``'s columns; ``quarantined`` has one
    ``raw_line`` string column. A line is quarantined when it is not
    well-formed JSON *or* any field fails to cast to its declared type
    (FAILFAST-per-line semantics via the PERMISSIVE corrupt column —
    type drift lands in quarantine instead of silently becoming NULL).
    Blank lines are skipped (the JSONL convention for trailing
    newlines)."""
    if any(f.name == _CORRUPT for f in schema.fields):
        raise ValueError(f"schema must not declare {_CORRUPT!r}")
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField(_CORRUPT, T.StringType(), True)]
    )
    raw = spark.read.text(path).filter(F.trim("value") != "")
    parsed = raw.select(
        "value",
        F.from_json(
            "value",
            parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
        ).alias("r"),
    )
    bad = F.col("r").isNull() | F.col(f"r.{_CORRUPT}").isNotNull()
    good = parsed.filter(~bad).select("r.*").drop(_CORRUPT)
    quarantined = parsed.filter(bad).select(F.col("value").alias("raw_line"))
    return good, quarantined


def ingest_jsonl(
    wh: Warehouse,
    jsonl_path: str,
    table: str,
    schema: T.StructType,
    mode: str = "replace",
    batch_ts: datetime | None = None,
    raw_schema: str = "raw",
) -> tuple[DataFrame, DataFrame]:
    """Ingest one JSONL batch into ``raw.<table>`` +
    ``raw.<table>__quarantine``, both lineage-stamped (``ingested_at``,
    ``source_file`` — the sources/csv.ingest_csv contract). Returns the
    (good, quarantine) warehouse reads.

    At 100 TB this is one distributed text->parquet job per output: the
    text scan splits on byte ranges, from_json runs in whole-stage
    codegen, lineage columns are constants — no shuffle anywhere."""
    lineage = lineage_columns(jsonl_path, batch_ts)
    good, quarantined = parse_jsonl(wh.spark, jsonl_path, schema)
    qtable = f"{table}__quarantine"
    for t, df in ((table, good), (qtable, quarantined)):
        write_raw(wh, df.withColumns(lineage), raw_schema, t, mode)
    return wh.read(raw_schema, table), wh.read(raw_schema, qtable)
