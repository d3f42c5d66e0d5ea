"""PySpark-native analytics engine with the capabilities of the
Ruta8/DuckDB-dbt-finance-warehouse reference (a dbt-on-DuckDB finance
warehouse), rebuilt Spark-first.

Layout
------
- ``session``    : SparkSession factory tuned for local + cluster scale.
- ``functions``  : scalar-function kit (cleaning, dates, hashing, money).
- ``sources``    : CSV ingestion with lineage + warehouse table IO.
- ``plans``      : model registry / topo runner, materializations
                   (view, table, incremental append, delete+insert),
                   SCD2 snapshot merge, data-quality tests.
- ``models``     : the finance pipeline (staging -> intermediate ->
                   snapshots -> dims -> facts -> mart), one function per
                   reference model.
- ``operators``  : scale-out extension operators (dedup, similarity
                   search, text analysis, sessionization, as-of joins,
                   multimodal plumbing).

Everything here derives from public knowledge only: the Apache Spark /
PySpark API, the reference repo's observable behavior, and published
papers.
"""

__version__ = "0.1.0"
