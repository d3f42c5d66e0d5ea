"""SparkSession factory.

Defaults are tuned so the same code is correct on ``local[N]`` for tests
and on a large cluster for the 100 TB target:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) so plans self-correct as data scales.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant.
- Dynamic partition overwrite, which is how the delete+insert
  incremental materialization restates month partitions without
  rewriting the whole fact table (SURVEY §7.3).
- UTC session timezone: the reference's batch timestamps are UTC
  wall-clock strings, and the DuckDB oracle compares timestamps
  TZ-naively.
- Arrow enabled for any pandas interchange (extension operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Entries in Spark's JVM-wide cache of compiled generated classes
# (static conf, default 100). A steady-state warehouse batch (ingest,
# incremental build of the 13 models, the 48 declared tests) asks for
# about 270 distinct classes, so at 100 entries the LRU has evicted each
# one before the next batch asks for it again: every batch recompiles
# 267 classes with Janino, and an identical no-op batch about 250. 1000
# holds a batch's working set several times over, with room for the
# set-up's and the suite's classes: measured on 4 cores with the
# 200-account benchmark feed, 22-36 compiles per batch, and the memory
# kept by the process rose 1.3% (533 -> 540 MiB).
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "duckdb_dbt_finance_warehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and the
    bench driver share one code path; pass an explicit master / rely on
    spark-submit conf on a real cluster.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # the default 240 MB JIT code cache fills during a 65-query
        # suite (each query codegens fresh classes twice); once full the
        # JIT stops compiling and late queries run interpreted 3-5x
        # slower, seemingly at random — size it for the suite
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # spark.sql.codegen.maxFields stays at its 100 default: the
        # 48-sum SimHash fingerprint (97 fields) runs interpreted, and
        # raising the cap to 200 DID make the isolated aggregate 1.8x
        # faster (r13 A/B) — but the full entry got 1.2-1.5x SLOWER
        # because every fresh construction re-generates and JIT-compiles
        # the enormous wide-agg methods, which dominates at bench data
        # sizes. Revisit on a cluster where execution volume amortizes
        # the compile (guide §1: trust the full-query measurement).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # read TIMESTAMP(NANOS) parquet (events.ts) as long; the canonical
        # loader floors to microseconds, matching DuckDB's reader behavior
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def engine_counters(spark: SparkSession) -> tuple[int, int]:
    """(Spark jobs started, generated classes compiled) so far, read from
    Spark's own bookkeeping: the highest job id in the status store,
    which is kept with the UI disabled, after draining the listener bus,
    and the JVM-wide count of Janino compiles — each one a miss of the
    codegen cache. Take the difference of two readings around a call."""
    jvm = spark._jvm
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().store().view(
        jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
    ).reverse().max(1).iterator()
    started = int(jobs.next().info().jobId()) + 1 if jobs.hasNext() else 0
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return started, int(compiled.getCount())
