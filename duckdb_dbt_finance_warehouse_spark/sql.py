"""Ad-hoc SQL consumption — the BI entry point (SURVEY §3.3).

The reference's product surface is "query the warehouse file with SQL"
(DuckDB CLI / DBeaver over warehouse.duckdb). The Spark equivalent:
register every materialized table in the session catalog and hand the
user ``spark.sql``. Views use the ``<schema>_<table>`` convention
(``mart_fct_account_month``) plus bare-name aliases where unambiguous.
"""

from __future__ import annotations

from .sources.tables import Warehouse


def register_warehouse(wh: Warehouse) -> list[str]:
    """Register every table in the warehouse as temp views; returns the
    registered names. Bare-name aliases (dbt-style ref names) are only
    created for table names that occur in exactly ONE schema — a name
    shared by two schemas gets no bare alias (first-schema-wins binding
    would silently pick the alphabetically-first one)."""
    names: list[str] = []
    pairs = wh.tables()
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

