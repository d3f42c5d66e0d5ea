"""Warehouse table IO.

The reference routes tables into named schemas (raw/stg/int/snapshots/
mart — dbt_project.yml:14-31 + macros/generate_schema_name.sql). Here a
``Warehouse`` is a parquet directory laid out ``<root>/<schema>/<table>/``
— the layout a Spark catalog/metastore would manage on a cluster; keeping
it plain parquet keeps everything driver-checkable and portable.

Facts are partitioned by ``month_start_date`` so the delete+insert
incremental materialization becomes dynamic partition overwrite
(SURVEY §7.3) and month-predicate queries prune partitions at scan time.
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _version(path: str) -> tuple[int, int] | None:
    """Identity of a file or directory's current contents: inode and
    mtime. Writing, appending, deleting or swapping in another
    directory changes it; None when the path cannot be stat'ed."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable — the form a
    parquet read reports whatever the writer declared."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


# session -> parquet path -> (file version, inferred schema)
_TESTDATA_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _read_testdata(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema (one Spark
    job reading the footer) only the first time this session reads this
    version of the file, and passes the remembered schema after that."""
    seen = _TESTDATA_SCHEMAS.setdefault(spark, {})
    version = _version(path)
    hit = seen.get(path)
    if version is not None and hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if version is not None:
        seen[path] = (version, df.schema)
    return df


def load_testdata(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load driver-generated parquet tables; default = all of them.

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark reads as a
    nanosecond long (``spark.sql.legacy.parquet.nanosAsLong``). It is
    normalized here to a microsecond TimestampType by flooring — the
    same ns->us truncation DuckDB's parquet reader applies, so both
    engines see identical values.

    Schemas are inferred once per session and file version (inode,
    mtime) and passed on later loads, so a query built again over
    unchanged files starts no schema-inference job.
    """
    names = names or TESTDATA_TABLES
    out: dict[str, DataFrame] = {}
    for n in names:
        if n == "events":
            # the caller's session may be vanilla (the driver builds its
            # own); these are runtime-settable and required for parity
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read_testdata(spark, os.path.join(sf_dir, f"{n}.parquet"))
        ts_kind = dict(df.dtypes).get("ts") if n == "events" else None
        if ts_kind == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_kind == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet: the naive
            # value IS the UTC wall clock; session tz is UTC (set above),
            # so this cast maps it to the same TimestampType instants the
            # nanos path produces — downstream epoch casts keep working.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        out[n] = df
    return out


@dataclass
class _Read:
    """What ``Warehouse`` knows about one table: the directory version
    it applies to, the data columns' read-side schema (None when that
    version was inferred, not written here) and the DataFrame built
    over it."""

    version: tuple[int, int]
    data_schema: StructType | None
    df: DataFrame | None = None


@dataclass
class Warehouse:
    """Parquet tables under ``<root>/<schema>/<table>/``.

    Read reuse: after ``write`` / ``write_staged`` the warehouse records
    the table's read-side data schema (the written columns, nullable,
    partition columns left out) keyed by the table directory's version
    ``(st_ino, st_mtime_ns)``. While the directory still has that
    version, ``read`` passes the schema instead of running a parquet
    schema-inference job, and returns the same DataFrame on every later
    call instead of listing the files (and each month partition of a
    fact table) again. Partition columns are still discovered by Spark
    from the directory names, so their types are what inference gives.
    Any version the warehouse did not write itself — another writer's
    append, a directory swapped in — is read with inference, as before,
    and that DataFrame is then reused while the version holds.

    Precondition: a file is never rewritten in place under the same
    name. Adding, deleting or renaming an entry changes the directory's
    mtime, and a swapped-in directory has another inode; Spark writers
    only ever add new uniquely named part files and rename directories,
    so every Spark write changes the version. The DataFrame returned is
    shared between callers of ``read``: derive new frames from it, and
    alias both sides to join a table with itself."""

    spark: SparkSession
    root: str
    _reads: dict[tuple[str, str], _Read] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def path(self, schema: str, table: str) -> str:
        return os.path.join(self.root, schema, table)

    def _recover(self, schema: str, table: str) -> None:
        """Heal the one crash window ``write_staged`` has: if a run died
        between ``rename(target, trash)`` and ``rename(staging, target)``,
        the only durable copy of the table is the trash sibling. Restore
        it whenever the canonical path is missing; the trash dir is only
        deleted after a completed swap, never on entry."""
        target = self.path(schema, table)
        trash = self.path(schema, f"_trash_{table}")
        if not os.path.isdir(target) and os.path.isdir(trash):
            os.rename(trash, target)

    def exists(self, schema: str, table: str) -> bool:
        self._recover(schema, table)
        p = self.path(schema, table)
        if not os.path.isdir(p):
            return False
        # a dir with only _SUCCESS/_temporary is not a readable table
        return any(
            f.endswith(".parquet") or f.startswith("month_start_date=") or "=" in f
            for f in os.listdir(p)
        )

    def read(self, schema: str, table: str) -> DataFrame:
        self._recover(schema, table)
        path = self.path(schema, table)
        version = _version(path)
        known = self._reads.get((schema, table))
        if version is None or known is None or known.version != version:
            # a version this warehouse did not write: infer, then reuse
            df = self.spark.read.parquet(path)
            if version is not None:
                self._reads[(schema, table)] = _Read(version, None, df)
            return df
        if known.df is None:
            known.df = self.spark.read.schema(known.data_schema).parquet(path)
        return known.df

    def _record(
        self,
        schema: str,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None,
        before: tuple[int, int] | None,
        replaced: bool,
    ) -> None:
        """Remember the read-side schema of what was just written. A
        write that kept earlier files (append, dynamic partition
        overwrite) is recorded only when the files it kept are known to
        have the same schema; otherwise the next read infers."""
        key = (schema, table)
        known = self._reads.pop(key, None)
        parts = set(partition_by or ())

        def data_columns(full: StructType) -> StructType:
            return _nullable(StructType([f for f in full if f.name not in parts]))

        written = data_columns(df.schema)
        if before is not None and not replaced:
            if known is None or known.version != before:
                return
            kept = known.data_schema
            if kept is None:
                kept = data_columns(known.df.schema)
            if kept != written:
                return
        version = _version(self.path(schema, table))
        if version is not None:
            self._reads[key] = _Read(version, written)

    def write(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        # heal a mid-swap crash from a previous write_staged run: without
        # this, a plain overwrite recreates the target while the stale
        # _trash_<table> sibling lingers on disk indefinitely.
        self._recover(schema, table)
        before = _version(self.path(schema, table))
        w = df.write.mode(mode)
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(schema, table))
        # a dynamic partition overwrite keeps the partitions df lacks
        replaced = mode == "overwrite" and (
            not partition_by
            or (
                (options or {}).get("partitionOverwriteMode")
                or self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            ).lower()
            == "static"
        )
        self._record(schema, table, df, partition_by, before, replaced)
        # a crash after write_staged's swap but before its cleanup leaves
        # a stale trash sibling; the write above is now the durable copy,
        # so the shadow can go.
        import shutil

        shutil.rmtree(self.path(schema, f"_trash_{table}"), ignore_errors=True)

    def write_staged(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        partition_by: list[str] | None = None,
    ) -> None:
        """Self-referential-safe overwrite: the plan may READ the table it
        replaces (SCD2 merge, keyed delete+insert). Write the new state to
        a staging sibling first, then swap directory names. The source
        files are never deleted before the new copy is fully durable — a
        crash or executor loss mid-write leaves the old table intact,
        unlike cache()+overwrite where a recomputed partition would read
        files the overwrite already deleted. On a cluster the same
        pattern is a FileSystem.rename of cloud-store prefixes.

        Crash recovery: a previous run may have died mid-swap, leaving the
        old state only under ``_trash_<table>`` — restore it first (see
        ``_recover``) so a rerun never deletes the sole surviving copy."""
        import shutil

        self._recover(schema, table)
        target = self.path(schema, table)
        staging = self.path(schema, f"_staging_{table}")
        trash = self.path(schema, f"_trash_{table}")
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        if os.path.isdir(target):
            os.rename(target, trash)  # old state kept until swap completes
        os.rename(staging, target)
        shutil.rmtree(trash, ignore_errors=True)
        self._record(schema, table, df, partition_by, None, True)

    def register_catalog(self) -> list[str]:
        """Register the warehouse layout in the Spark catalog so users
        address tables by name (``spark.table("mart.fct_account_month")``)
        — one database per schema directory, one external parquet table
        per materialized table. Delegates to
        ``sql.register_warehouse_catalog`` (the BI entry point); exposed
        here so warehouse construction and catalog registration read as
        one flow (SURVEY S6, scripts/load_csvs_to_duckdb.py:34)."""
        from ..sql import register_warehouse_catalog

        return register_warehouse_catalog(self)

    def analyze(self, columns: bool = True) -> list[str]:
        """Register (if needed) and ANALYZE every table in the session
        catalog — row counts + per-column stats for Catalyst's
        cost-based optimizer. Delegates to
        ``sql.analyze_warehouse_catalog``."""
        from ..sql import analyze_warehouse_catalog

        return analyze_warehouse_catalog(self, columns)

    def vacuum(self, staging_min_age_s: float = 900.0) -> dict[str, int]:
        """Warehouse-wide janitor for the staged-swap lifecycle: a crash
        BEFORE the swap leaves an orphaned ``_staging_<table>`` sibling
        that nothing else ever touches (``write_staged`` only clears its
        OWN table's staging on the next rewrite of that table). Staging
        is never the sole durable copy, so deleting an ORPHANED
        ``_staging_*`` dir is safe — but a staging dir can also be an
        in-flight write from a CONCURRENT writer, so only dirs whose
        mtime is older than ``staging_min_age_s`` (default 15 min) are
        removed; a live writer refreshes its dir's mtime with every
        file it lands, so anything older is a crash orphan. Pass 0 only
        when you know no writer is running. ``_trash_*`` siblings go
        through the same recovery rule as ``_recover`` — restored when
        the canonical dir is missing (they ARE the table), deleted
        otherwise (stale shadow). Returns counts: staging_removed /
        trash_restored / trash_removed. On a cluster this is a
        cloud-store prefix listing + renames — run it from the
        maintenance schedule next to ``compact``."""
        import shutil
        import time

        counts = {"staging_removed": 0, "trash_restored": 0, "trash_removed": 0}
        if not os.path.isdir(self.root):
            return counts
        cutoff = time.time() - staging_min_age_s
        for schema in sorted(os.listdir(self.root)):
            sdir = os.path.join(self.root, schema)
            if not os.path.isdir(sdir):
                continue
            for d in sorted(os.listdir(sdir)):
                if d.startswith("_staging_"):
                    full = os.path.join(sdir, d)
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue  # possibly an in-flight writer
                    except OSError:
                        continue
                    shutil.rmtree(full, ignore_errors=True)
                    counts["staging_removed"] += 1
                elif d.startswith("_trash_"):
                    table = d[len("_trash_"):]
                    if os.path.isdir(self.path(schema, table)):
                        shutil.rmtree(os.path.join(sdir, d), ignore_errors=True)
                        counts["trash_removed"] += 1
                    else:
                        os.rename(os.path.join(sdir, d), self.path(schema, table))
                        counts["trash_restored"] += 1
        return counts

    def compact(
        self, schema: str, table: str, target_rows_per_file: int
    ) -> int:
        """Rewrite ``schema.table`` into ceil(rows / target) evenly-sized
        files — the maintenance pass that undoes small-file accretion
        from incremental appends (see operators/maintenance). Uses the
        crash-safe staged swap (``write_staged``), so a failure mid-
        compaction leaves the original table intact. Returns the file
        count written. Round-robin repartition gives equal-size outputs;
        on a cluster each output file is one task's single sorted write.
        For PARTITIONED tables use ``sources.maintenance.compact_table``
        — it preserves the partition layout (and can fold away
        bookkeeping partitions like the streaming appenders' _epoch)."""
        df = self.read(schema, table)
        n = df.count()
        n_files = max(1, -(-n // target_rows_per_file))
        self.write_staged(df.repartition(n_files), schema, table)
        return n_files


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Generic MERGE semantics as one declarative plan (the dbt
    ``incremental_strategy='merge'`` shape the reference's delete+insert
    materialization approximates, fct_subscription_month.sql:1-5):

      - key in target only           -> keep the target row
      - key in source, delete flag   -> drop (WHEN MATCHED DELETE)
      - key in source otherwise      -> the source row wins (whole-row
                                        UPDATE / INSERT)

    = target LEFT ANTI source (on keys) ∪ source rows not flagged for
    delete. Whole-row update keeps the op key-shuffle-only: one anti
    join partitioned by the merge keys, no window, no full-outer
    branch explosion. Source rows must be unique per key (enforce with
    W1 latest-row dedup upstream — dbt merge has the same precondition).

    Scale: both sides shuffle once on the merge keys (or zero times if
    the target is stored bucketed by them); at 100 TB pair this with
    ``Warehouse.write_staged`` partitioned by a date column so only
    affected partitions rewrite (delete+insert), or feed it to a format
    with native MERGE. ``delete_col`` (boolean on the source) is
    dropped from the output."""
    merged_src = source
    if delete_col is not None:
        merged_src = source.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    survivors = target.join(source.select(*keys).distinct(), keys, "left_anti")
    return survivors.unionByName(merged_src)


def purge_keys(
    wh: "Warehouse",
    schema: str,
    table: str,
    key_col: str,
    keys: DataFrame,
) -> int:
    """Right-to-be-forgotten delete: remove every row of
    ``schema.table`` whose ``key_col`` appears in ``keys`` (a
    one-column DataFrame — arrives as a table, never an IN-list, per
    the bitmap/no-literal-lists invariant) and rewrite via the
    crash-safe staged swap, so a failure mid-purge leaves the original
    intact rather than half-deleted. Returns the number of rows
    removed (the audit number a deletion request must report).

    Scale: one anti join keyed on ``key_col`` (broadcast when the key
    list is small — Catalyst's choice) + the staged rewrite. For a
    partitioned table, restrict the rewrite blast radius by filtering
    ``keys`` per partition and using dynamic partition overwrite
    instead (S11 machinery); this whole-table form is the general
    fallback."""
    cur = wh.read(schema, table)
    k = keys.select(F.col(keys.columns[0]).alias(key_col)).distinct()
    kept = cur.join(k, key_col, "left_anti")
    before = cur.count()
    wh.write_staged(kept, schema, table)
    return before - wh.read(schema, table).count()
