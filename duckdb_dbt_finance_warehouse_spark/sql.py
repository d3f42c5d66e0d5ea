"""Ad-hoc SQL consumption — the BI entry point (SURVEY §3.3).

The reference's product surface is "query the warehouse file with SQL"
(DuckDB CLI / DBeaver over warehouse.duckdb). The Spark equivalent:
register every materialized table in the session catalog and hand the
user ``spark.sql``. Views use the ``<schema>_<table>`` convention
(``mart_fct_account_month``) plus bare-name aliases where unambiguous.
"""

from __future__ import annotations

import os

from .sources.tables import Warehouse


def register_warehouse(wh: Warehouse) -> list[str]:
    """Register every table in the warehouse as temp views; returns the
    registered names. Bare-name aliases (dbt-style ref names) are only
    created for table names that occur in exactly ONE schema — a name
    shared by two schemas gets no bare alias (first-schema-wins binding
    would silently pick the alphabetically-first one)."""
    names: list[str] = []
    if not os.path.isdir(wh.root):
        return names
    pairs = [
        (schema, table)
        for schema in sorted(os.listdir(wh.root))
        if os.path.isdir(os.path.join(wh.root, schema))
        for table in sorted(os.listdir(os.path.join(wh.root, schema)))
        if wh.exists(schema, table)
    ]
    table_counts: dict[str, int] = {}
    for _, table in pairs:
        table_counts[table] = table_counts.get(table, 0) + 1
    for schema, table in pairs:
        df = wh.read(schema, table)
        qualified = f"{schema}_{table}"
        df.createOrReplaceTempView(qualified)
        names.append(qualified)
        if table_counts[table] == 1 and table not in names:
            df.createOrReplaceTempView(table)
            names.append(table)
    return names


def register_warehouse_catalog(wh: Warehouse) -> list[str]:
    """Catalog-backed registration — the closer analog of the
    reference's named DuckDB schemas (scripts/load_csvs_to_duckdb.py
    routes tables into raw/stg/mart/... schemas inside warehouse.duckdb).

    One catalog DATABASE per warehouse schema, one EXTERNAL parquet
    table per materialized table (``SELECT ... FROM mart.fct_account_month``).
    Partitioned tables (facts by month_start_date) get their partitions
    recovered so partition pruning works through the catalog. With a
    persistent metastore the registrations survive session restarts;
    data stays in place either way (external tables over the existing
    parquet layout — registering is metadata-only)."""
    spark = wh.spark
    names: list[str] = []
    if not os.path.isdir(wh.root):
        return names
    for schema in sorted(os.listdir(wh.root)):
        sdir = os.path.join(wh.root, schema)
        if not os.path.isdir(sdir):
            continue
        made_db = False
        for table in sorted(os.listdir(sdir)):
            if not wh.exists(schema, table):
                continue
            if not made_db:
                spark.sql(f"CREATE DATABASE IF NOT EXISTS `{schema}`")
                made_db = True
            path = wh.path(schema, table)
            partitioned = any("=" in d for d in os.listdir(path) if not d.startswith("_"))
            spark.sql(f"DROP TABLE IF EXISTS `{schema}`.`{table}`")
            spark.sql(
                f"CREATE TABLE `{schema}`.`{table}` USING PARQUET LOCATION '{path}'"
            )
            if partitioned:
                spark.sql(f"MSCK REPAIR TABLE `{schema}`.`{table}`")
            names.append(f"{schema}.{table}")
    return names


def analyze_warehouse_catalog(
    wh: Warehouse, columns: bool = True
) -> list[str]:
    """Collect catalog statistics for every registered warehouse table
    (``ANALYZE TABLE ... COMPUTE STATISTICS [FOR ALL COLUMNS]``) — the
    step that turns Catalyst's cost-based optimizer ON for this layout:
    with row counts + column NDV/min/max in the metastore, join
    reordering and build-side selection stop guessing from file sizes
    (the gram-join audit in PERF.md shows what bad size guesses do).
    Registers first if needed; returns the analyzed names. On a cluster
    run it after each build, like the reference's post-load ANALYZE in
    DuckDB (automatic there; explicit here)."""
    spark = wh.spark
    names = register_warehouse_catalog(wh)
    for name in names:
        schema, table = name.split(".", 1)
        stmt = f"ANALYZE TABLE `{schema}`.`{table}` COMPUTE STATISTICS"
        spark.sql(stmt)
        if columns:
            spark.sql(stmt + " FOR ALL COLUMNS")
    return names
