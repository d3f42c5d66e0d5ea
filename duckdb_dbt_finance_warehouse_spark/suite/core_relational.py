"""Core relational operator suite — one named query per SURVEY.md §2 op-id.

Each query is written DataFrame-first (declarative, Catalyst-optimizable,
no Python UDFs) and paired with a byte-parity DuckDB oracle. Determinism
rules applied throughout (validated empirically in tools/parity_scratch.py):

- money/double SUMs use scaled-integer accumulation (functions/money
  ``exact_sum``: floor(x*10^s + 0.5) summed as longs) — exact,
  order-independent, identical across engines & parallelism;
- DuckDB ``sum(int)`` returns HUGEINT and ``year()`` BIGINT — oracles
  cast to BIGINT/INT to match Spark's schema;
- timestamps compared at microsecond precision (events ns are floored
  identically by both readers);
- every computed column is aliased identically on both sides.

Scale notes are attached per query: what shuffles, what broadcasts, and
why the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import empty_to_null, lower_norm, negative_to_null, record_hash
from ..functions.money import exact_sum, exact_sum_scaled
from ..sources.tables import load_testdata
from .registry import query


def T(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return load_testdata(spark, sf_dir, *names)


# ---------------------------------------------------------------------------
# §2.1 scans / sources  (S5 — lineage stamping; S1-S4 are exercised in tests)
# ---------------------------------------------------------------------------


@query(
    "s5_lineage_columns",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST('2026-01-01 00:00:00' AS TIMESTAMP) AS ingested_at,
           'lineitem.parquet' AS source_file
    FROM lineitem
    """,
)
def s5_lineage_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: stamp batch lineage columns on every ingested row
    (reference: scripts/load_csvs_to_duckdb.py:47-50). Constant columns —
    no shuffle, survives any scale."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ingested_at"),
        F.lit("lineitem.parquet").alias("source_file"),
    )


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------


@query(
    "p1_typed_projection",
    oracle="""
    SELECT o_orderkey,
           CAST(o_custkey AS BIGINT) AS customer_id,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_totalprice AS DOUBLE) AS total_price,
           trim(o_orderstatus) AS order_status,
           lower(trim(o_orderpriority)) AS order_priority
    FROM orders
    """,
)
def p1_typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: the staging schema contract — re-select + rename + cast every
    column (reference: models/staging/stg_accounts.sql:14-49). Pure
    narrow projection: pushed into the parquet scan, zero shuffle."""
    o = T(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        F.col("o_custkey").cast("bigint").alias("customer_id"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.trim("o_orderstatus").alias("order_status"),
        F.lower(F.trim("o_orderpriority")).alias("order_priority"),
    )


@query(
    "p3_clean_strings",
    oracle="""
    SELECT c_custkey,
           trim(c_name) AS name,
           nullif(trim(c_name), '') AS name_nullable,
           lower(nullif(trim(c_mktsegment), '')) AS segment
    FROM customer
    """,
)
def p3_clean_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3+P4: trim / empty->NULL / lowercase normalization
    (reference: stg_accounts.sql:17-24, stg_subscriptions.sql:35)."""
    c = T(spark, sf_dir, "customer")["customer"]
    return c.select(
        "c_custkey",
        F.trim("c_name").alias("name"),
        empty_to_null("c_name").alias("name_nullable"),
        lower_norm("c_mktsegment").alias("segment"),
    )


@query(
    "p5_negative_to_null",
    oracle="""
    SELECT event_id,
           value AS value_raw,
           CASE WHEN value < 0 THEN NULL ELSE value END AS value
    FROM events
    """,
)
def p5_negative_to_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: sanitize negative measures to NULL keeping the raw copy
    (reference: stg_subscriptions.sql:25-28)."""
    e = T(spark, sf_dir, "events")["events"]
    return e.select(
        "event_id",
        F.col("value").alias("value_raw"),
        negative_to_null("value").alias("value"),
    )


@query(
    "p6_record_hash",
    oracle="""
    SELECT c_custkey,
           md5(concat_ws('|',
               coalesce(CAST(c_custkey AS VARCHAR), ''),
               coalesce(trim(c_name), ''),
               coalesce(CAST(c_nationkey AS VARCHAR), ''),
               coalesce(CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS VARCHAR), ''),
               coalesce(trim(c_mktsegment), ''))) AS record_hash
    FROM customer
    """,
)
def p6_record_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: md5 change-detection hash over NULL-coalesced business columns
    (reference: stg_accounts.sql:33-46). Doubles canonicalized through
    DECIMAL(18,4) so the hex digest is engine-independent."""
    c = T(spark, sf_dir, "customer")["customer"]
    return c.select(
        "c_custkey",
        record_hash(
            [
                F.col("c_custkey"),
                F.trim("c_name"),
                F.col("c_nationkey"),
                F.col("c_acctbal").cast("decimal(18,4)"),
                F.trim("c_mktsegment"),
            ]
        ).alias("record_hash"),
    )


@query(
    "p7_derived_boolean",
    oracle="""
    SELECT doc_id, (n_chars > 200) AS is_long, (lang IS NOT NULL) AS has_lang
    FROM documents
    """,
)
def p7_derived_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: derived boolean flags (reference: stg_support_tickets.sql:28)."""
    d = T(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        (F.col("n_chars") > 200).alias("is_long"),
        F.col("lang").isNotNull().alias("has_lang"),
    )


@query(
    "p8_hwm_filter",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_recent
    FROM events
    WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    GROUP BY event_type
    """,
)
def p8_hwm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: incremental high-watermark predicate with a scalar subquery
    (reference: stg_accounts.sql:9-11). Implemented without a driver
    collect: the 1-row bound aggregate is broadcast-cross-joined, so the
    same plan works on a 1000-executor cluster."""
    e = T(spark, sf_dir, "events")["events"]
    bound = e.agg(F.max("ts").alias("max_ts"))
    return (
        e.crossJoin(F.broadcast(bound))
        .filter(F.col("ts") > F.col("max_ts") - F.expr("interval 7 days"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_recent"))
    )


@query(
    "p9_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def p9_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: filter on a window result (QUALIFY pattern, reference:
    int_accounts_current.sql:3-10) — top-3 orders per customer. One
    shuffle on the partition key; Spark pushes a per-partition top-K
    (WindowGroupLimit) before the shuffle, so it scales."""
    o = T(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "p10_predicate_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_returnflag = 'N'
    """,
)
def p10_predicate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: plain predicate filters (reference: fct_subscription_month.sql:12)
    — conjunctive predicates all pushed to the parquet scan."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_returnflag") == "N")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@query(
    "j1_month_spine_expansion",
    oracle="""
    SELECT o_custkey AS account_id,
           unnest(generate_series(date_trunc('month', first_d)::DATE,
                                  date_trunc('month', last_d)::DATE,
                                  INTERVAL 1 MONTH))::DATE AS month_start_date
    FROM (SELECT o_custkey, min(o_orderdate) AS first_d, max(o_orderdate) AS last_d
          FROM orders GROUP BY o_custkey)
    """,
)
def j1_month_spine_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the spine range join, rewritten the idiomatic Spark way —
    ``explode(sequence(first_month, last_month, 1 month))`` instead of a
    nested-loop BETWEEN join (reference: fct_subscription_month.sql:56-64,
    SURVEY §2.3). One groupBy shuffle + a generator: linear in rows, no
    N×M join — this is exactly the rewrite that survives 100 TB."""
    o = T(spark, sf_dir, "orders")["orders"]
    bounds = o.groupBy(F.col("o_custkey").alias("account_id")).agg(
        F.trunc(F.min("o_orderdate"), "month").alias("first_month"),
        F.trunc(F.max("o_orderdate"), "month").alias("last_month"),
    )
    return bounds.select(
        "account_id",
        F.explode(
            F.expr("sequence(first_month, last_month, interval 1 month)")
        ).alias("month_start_date"),
    )


@query(
    "j2_left_equi_zero_fill",
    oracle="""
    SELECT n.n_nationkey, n.n_name,
           CAST(coalesce(c.n_customers, 0) AS BIGINT) AS n_customers,
           CAST(coalesce(c.total_acctbal, 0.0) AS DOUBLE) AS total_acctbal
    FROM nation n
    LEFT JOIN (
      SELECT c_nationkey, count(*) AS n_customers,
             SUM(CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT)) / 10000.0 AS total_acctbal
      FROM customer GROUP BY c_nationkey) c
      ON n.n_nationkey = c.c_nationkey
    """,
)
def j2_left_equi_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left equi-join + zero-fill (reference: fct_account_month.sql:60-70,
    mart_mrr_waterfall_month.sql:54-77). The aggregated side shrinks to
    |nations| rows -> broadcast; no shuffle of the spine."""
    t = T(spark, sf_dir, "nation", "customer")
    agg = t["customer"].groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        exact_sum("c_acctbal").alias("total_acctbal"),
    )
    return (
        t["nation"]
        .join(F.broadcast(agg), t["nation"].n_nationkey == agg.c_nationkey, "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("total_acctbal", F.lit(0.0)).alias("total_acctbal"),
        )
    )


_J3_DIM_SQL = """
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version
      FROM events WHERE event_type = 'signup'
"""


@query(
    "j3_validity_asof_join",
    oracle=f"""
    SELECT f.event_id, f.user_id, f.ts, f.value, d.valid_from, d.version
    FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') f
    LEFT JOIN ({_J3_DIM_SQL}) d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def j3_validity_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: SCD2 validity (as-of) join — equi key + half-open interval
    (reference: dim_subscription.sql:39-48, fct_subscription_month.sql:123-138).
    A versioned dim is derived from signup events via lead(); purchases
    attach the version valid at their timestamp. Spark runs the equi part
    as a hash join and the interval as a post-join filter; the dim side is
    small per key, so broadcast at scale."""
    e = T(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("valid_from"), "event_id")
        .withColumn("valid_to", F.lead("valid_from").over(
            Window.partitionBy("user_id").orderBy("valid_from", "event_id")))
        .withColumn("version", F.row_number().over(
            Window.partitionBy("user_id").orderBy("valid_from", "event_id")))
        .drop("event_id")
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    cond = (
        (fact.user_id == dim.user_id)
        & (fact.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (fact.ts < dim.valid_to))
    )
    return fact.join(F.broadcast(dim), cond, "left").select(
        fact.event_id, fact.user_id, fact.ts, fact.value, dim.valid_from, dim.version
    )


@query(
    "j4_first_version_backfill",
    oracle=f"""
    SELECT f.event_id, f.user_id, f.ts, d.version, d.effective_valid_from
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') f
    LEFT JOIN (
      SELECT user_id, valid_to, version,
             CASE WHEN version = 1 THEN TIMESTAMP '1900-01-01' ELSE valid_from END
               AS effective_valid_from
      FROM ({_J3_DIM_SQL})
    ) d
      ON f.user_id = d.user_id
     AND f.ts >= d.effective_valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def j4_first_version_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: J3 with the earliest version's validity backdated to 1900-01-01
    so facts predating the first observed version still resolve
    (reference: fct_subscription_month.sql:131-137)."""
    e = T(spark, sf_dir, "events")["events"]
    wv = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    dim = (
        e.filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("valid_from"), "event_id")
        .withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("version", F.row_number().over(wv))
        .withColumn(
            "effective_valid_from",
            F.when(F.col("version") == 1, F.lit("1900-01-01").cast("timestamp")).otherwise(
                F.col("valid_from")
            ),
        )
        .drop("event_id", "valid_from")
    )
    fact = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    cond = (
        (fact.user_id == dim.user_id)
        & (fact.ts >= dim.effective_valid_from)
        & (dim.valid_to.isNull() | (fact.ts < dim.valid_to))
    )
    return fact.join(F.broadcast(dim), cond, "left").select(
        fact.event_id, fact.user_id, fact.ts, dim.version, dim.effective_valid_from
    )


@query(
    "j5_fk_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j5_fk_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: FK integrity as an anti join — child keys with no parent
    (reference: relationships test, models/staging/schema.yml:17-20).
    left_anti broadcasts the distinct key set when small; at 100 TB it
    becomes a shuffled anti join on the key — still one shuffle."""
    t = T(spark, sf_dir, "customer", "orders")
    return t["customer"].join(
        t["orders"], t["customer"].c_custkey == t["orders"].o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "j6_scalar_subquery_filter",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_big,
           SUM(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_price
    FROM lineitem
    WHERE l_quantity > (
      SELECT (SUM(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) / 10000.0) / count(*)
      FROM lineitem)
    GROUP BY l_returnflag
    """,
)
def j6_scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: scalar-subquery constant inside a predicate (reference:
    fct_subscription_month.sql:44-52). The 1-row aggregate is broadcast —
    no driver collect, so the plan is cluster-shaped. The threshold is an
    exact decimal-sum / count, deterministic across engines."""
    from ..functions.money import exact_avg

    li = T(spark, sf_dir, "lineitem")["lineitem"]
    bound = li.agg(exact_avg("l_quantity").alias("avg_qty"))
    return (
        li.crossJoin(F.broadcast(bound))
        .filter(F.col("l_quantity") > F.col("avg_qty"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_big"),
            exact_sum("l_extendedprice").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@query(
    "a1_grouped_sum_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_qty,
           SUM(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) / 10000.0
             AS sum_base_price,
           SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT))
             / 10000.0 AS sum_disc_price,
           SUM(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000 + 0.5)
             AS BIGINT)) / 1000000.0 AS sum_charge,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_grouped_sum_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: TPC-H Q1-shaped grouped sums (reference grouped_sum:
    fct_account_month.sql:49-57). Partial (map-side) aggregation is
    automatic; group cardinality is tiny so the shuffle moves ~nothing."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                scale=6,
            ).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "a2_grouped_min_max",
    oracle="""
    SELECT o_custkey,
           CAST(min(o_orderdate) AS DATE) AS first_order_date,
           CAST(max(o_orderdate) AS DATE) AS last_order_date,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def a2_grouped_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-entity first/last activity (reference: fct_account_month.sql:26-35)."""
    o = T(spark, sf_dir, "orders")["orders"]
    return o.groupBy("o_custkey").agg(
        F.min("o_orderdate").cast("date").alias("first_order_date"),
        F.max("o_orderdate").cast("date").alias("last_order_date"),
        F.count("*").alias("n_orders"),
    )


@query(
    "a3_global_scalar_agg",
    oracle="""
    SELECT CAST(min(o_orderdate) AS DATE) AS min_month,
           CAST(max(o_orderdate) AS DATE) AS max_month,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders
    """,
)
def a3_global_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: global scalar aggregate — month bounds (reference:
    fct_subscription_month.sql:25-30). Two-stage partial/final agg, one
    row out — the cheapest possible global pass."""
    o = T(spark, sf_dir, "orders")["orders"]
    return o.agg(
        F.min("o_orderdate").cast("date").alias("min_month"),
        F.max("o_orderdate").cast("date").alias("max_month"),
        F.count("*").alias("n_rows"),
    )


@query(
    "a4_multi_sum_rollup",
    oracle="""
    SELECT date_trunc('month', o_orderdate)::DATE AS month_start_date,
           SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0
             AS total_revenue,
           SUM(CAST(floor((CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END)
               * 10000 + 0.5) AS BIGINT)) / 10000.0 AS fulfilled_revenue,
           SUM(CAST(floor((CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END)
               * 10000 + 0.5) AS BIGINT)) / 10000.0 AS open_revenue,
           CAST(count(*) AS BIGINT) AS n_orders,
           SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0
             - SUM(CAST(floor((CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END)
                 * 10000 + 0.5) AS BIGINT)) / 10000.0 AS non_fulfilled_revenue
    FROM orders
    GROUP BY date_trunc('month', o_orderdate)::DATE
    """,
)
def a4_multi_sum_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: waterfall-style month-grain rollup — many conditional sums plus
    a derived net in ONE grouped pass (reference: mart_mrr_waterfall_month.sql:29-52)."""
    o = T(spark, sf_dir, "orders")["orders"]
    f_rev = exact_sum(
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0)
    )
    out = (
        o.groupBy(F.trunc("o_orderdate", "month").alias("month_start_date"))
        .agg(
            exact_sum("o_totalprice").alias("total_revenue"),
            f_rev.alias("fulfilled_revenue"),
            exact_sum(
                F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0.0)
            ).alias("open_revenue"),
            F.count("*").alias("n_orders"),
        )
        .withColumn(
            "non_fulfilled_revenue", F.col("total_revenue") - F.col("fulfilled_revenue")
        )
    )
    return out


@query(
    "a5_conditional_count_distinct",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT)
             AS purchasing_users,
           CAST(count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS BIGINT)
             AS erroring_users,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
)
def a5_conditional_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: several conditional COUNT(DISTINCT) in one GROUP BY (reference:
    mart_mrr_waterfall_month.sql:44-47) — Spark plans this with an expand
    node; exact, not approximate."""
    e = T(spark, sf_dir, "events")["events"]
    return e.groupBy(F.col("ts").cast("date").alias("event_date")).agg(
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("purchasing_users"),
        F.countDistinct(F.when(F.col("event_type") == "error", F.col("user_id"))).alias(
            "erroring_users"
        ),
        F.countDistinct("user_id").alias("active_users"),
    )


@query(
    "a6_select_distinct",
    oracle="""
    SELECT DISTINCT date_trunc('month', o_orderdate)::DATE AS month_start_date
    FROM orders
    """,
)
def a6_select_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: distinct projection (reference: fct_subscription_month.sql:8-13)."""
    o = T(spark, sf_dir, "orders")["orders"]
    return o.select(F.trunc("o_orderdate", "month").alias("month_start_date")).distinct()


@query(
    "a7_spine_zero_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('month', min(o_orderdate))::DATE AS min_m,
             date_trunc('month', max(o_orderdate))::DATE AS max_m
      FROM orders),
    spine AS (
      SELECT unnest(generate_series(min_m, max_m, INTERVAL 1 MONTH))::DATE
               AS month_start_date
      FROM bounds),
    rev AS (
      SELECT date_trunc('month', o_orderdate)::DATE AS m,
             SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0 AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY 1)
    SELECT s.month_start_date,
           CAST(coalesce(r.revenue, 0.0) AS DOUBLE) AS revenue,
           CAST(coalesce(r.n_orders, 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN rev r ON s.month_start_date = r.m
    """,
)
def a7_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: complete month spine left-joined to aggregates, zero-filled so
    empty months report 0 (reference: mart_mrr_waterfall_month.sql:54-77).
    The spine is generated engine-side from the data's own bounds — no
    driver round-trip — and is tiny, so the join broadcasts."""
    o = T(spark, sf_dir, "orders")["orders"]
    spine = (
        o.agg(
            F.trunc(F.min("o_orderdate"), "month").alias("min_m"),
            F.trunc(F.max("o_orderdate"), "month").alias("max_m"),
        )
        .select(
            F.explode(F.expr("sequence(min_m, max_m, interval 1 month)")).alias(
                "month_start_date"
            )
        )
    )
    rev = o.groupBy(F.trunc("o_orderdate", "month").alias("m")).agg(
        exact_sum("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return (
        spine.join(rev, spine.month_start_date == rev.m, "left")
        .select(
            "month_start_date",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------


@query(
    "w1_latest_row_dedup",
    oracle="""
    SELECT user_id, event_id, ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def w1_latest_row_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest-row-per-key dedup — the "current truth" view (reference:
    int_accounts_current.sql:4-10). row_number over (key ORDER BY ts DESC)
    = 1; one shuffle on the natural key."""
    e = T(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@query(
    "w2_lag_prev_month",
    oracle="""
    WITH m AS (
      SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS month_start_date,
             SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0 AS revenue
      FROM orders GROUP BY 1, 2)
    SELECT o_custkey, month_start_date, revenue,
           CAST(coalesce(lag(revenue) OVER (PARTITION BY o_custkey
                                            ORDER BY month_start_date), 0.0) AS DOUBLE)
             AS prev_revenue
    FROM m
    """,
)
def w2_lag_prev_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: lag(value) 0-defaulted — begin-of-month balance (reference:
    fct_account_month.sql:79-84)."""
    o = T(spark, sf_dir, "orders")["orders"]
    m = o.groupBy(
        "o_custkey", F.trunc("o_orderdate", "month").alias("month_start_date")
    ).agg(exact_sum("o_totalprice").alias("revenue"))
    w = Window.partitionBy("o_custkey").orderBy("month_start_date")
    return m.withColumn("prev_revenue", F.coalesce(F.lag("revenue").over(w), F.lit(0.0)))


@query(
    "w3_prior_history_flag",
    oracle="""
    WITH m AS (
      SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS month_start_date,
             SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0 AS revenue
      FROM orders GROUP BY 1, 2)
    SELECT o_custkey, month_start_date, revenue,
           CAST(coalesce(max(CASE WHEN revenue > 200000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY o_custkey ORDER BY month_start_date
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
             AS had_big_month_before
    FROM m
    """,
)
def w3_prior_history_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: 'any prior qualifying month' — cumulative max over an explicit
    ROWS frame that EXCLUDES the current row (reference "ever paid
    before": fct_account_month.sql:93-101; distinguishes new vs
    reactivation)."""
    o = T(spark, sf_dir, "orders")["orders"]
    m = o.groupBy(
        "o_custkey", F.trunc("o_orderdate", "month").alias("month_start_date")
    ).agg(exact_sum("o_totalprice").alias("revenue"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("month_start_date")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return m.withColumn(
        "had_big_month_before",
        F.coalesce(
            F.max(F.when(F.col("revenue") > 200000, 1).otherwise(0)).over(w), F.lit(0)
        ),
    )


@query(
    "w4_partition_min",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(min(o_orderdate) OVER (PARTITION BY o_custkey) AS DATE) AS first_order_date
    FROM orders
    """,
)
def w4_partition_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: whole-partition min attached to every row (reference:
    fct_subscription_month.sql:107,119)."""
    o = T(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.min("o_orderdate").over(w).cast("date").alias("first_order_date"),
    )


_M1_SQL = """
    WITH monthly AS (
      SELECT o_custkey AS account_id,
             date_trunc('month', o_orderdate)::DATE AS m,
             SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0 AS rev
      FROM orders GROUP BY 1, 2),
    bounds AS (
      SELECT account_id, min(m) AS first_m, max(m) AS last_m FROM monthly GROUP BY 1),
    spine AS (
      SELECT account_id,
             unnest(generate_series(first_m, (last_m + INTERVAL 1 MONTH)::DATE,
                                    INTERVAL 1 MONTH))::DATE AS month_start_date
      FROM bounds),
    spined AS (
      SELECT s.account_id, s.month_start_date,
             coalesce(mo.rev, 0.0) AS end_rev
      FROM spine s LEFT JOIN monthly mo
        ON mo.account_id = s.account_id AND mo.m = s.month_start_date),
    flagged AS (
      SELECT *,
             coalesce(lag(end_rev) OVER w, 0.0) AS begin_rev,
             coalesce(max(CASE WHEN end_rev > 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY account_id ORDER BY month_start_date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
               AS has_paid_before
      FROM spined
      WINDOW w AS (PARTITION BY account_id ORDER BY month_start_date))
    SELECT account_id, month_start_date, begin_rev, end_rev,
           CAST(end_rev - begin_rev AS DOUBLE) AS delta,
           CASE
             WHEN begin_rev = 0 AND end_rev > 0 AND NOT has_paid_before THEN 'new'
             WHEN begin_rev = 0 AND end_rev > 0 AND has_paid_before THEN 'reactivation'
             WHEN begin_rev > 0 AND end_rev = 0 THEN 'churn'
             WHEN begin_rev > 0 AND end_rev > 0 AND end_rev - begin_rev > 0 THEN 'upgrade'
             WHEN begin_rev > 0 AND end_rev > 0 AND end_rev - begin_rev < 0 THEN 'downgrade'
             WHEN begin_rev = 0 AND end_rev = 0 THEN 'zero'
             ELSE 'no_change'
           END AS movement_type
    FROM flagged
"""


@query(
    "m1_movement_classification",
    oracle=_M1_SQL,
)
def m1_movement_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: the reference's flagship business logic — month-over-month
    movement classification (new / reactivation / churn / upgrade /
    downgrade / zero) — run on the testdata ``orders`` as the revenue
    source (reference: fct_account_month.sql:79-123). Composition:
    grouped exact sums -> per-entity month spine (explode, +1 trailing
    month so final churn is observable) -> zero-fill -> lag + prior-paid
    window -> CASE classify. Two shuffles total (group, window).

    The returned frame is ``persist()``-ed: in the reference pipeline
    this IS a materialized fact (fct_account_month — dbt
    ``materialized='table'``), read by the M2 mart and any other
    consumer, so the stored-table persist rule applies. M2's inline
    call then reuses one cached copy (CacheManager dedupes the
    identical logical plan) instead of recomputing the two-shuffle
    chain per consumer; ``release_persisted()`` drops it."""
    from ..functions.money import exact_sum as _es
    from ..operators.dedup import _persist

    o = T(spark, sf_dir, "orders")["orders"]
    monthly = o.groupBy(
        F.col("o_custkey").alias("account_id"),
        F.trunc("o_orderdate", "month").alias("m"),
    ).agg(_es("o_totalprice").alias("rev"))
    # single-shuffle zero-filled spine: fold each account's months into a
    # map, explode the month sequence, look revenue up in the map. The
    # groupBy leaves data hash-partitioned on account_id, which is
    # exactly what the windows below need — no further exchange (the
    # join formulation would cost two more shuffles). Map size is
    # calendar-bounded (<=~120 entries/account), safe at any row scale.
    per_acct = monthly.groupBy("account_id").agg(
        F.map_from_entries(F.collect_list(F.struct("m", "rev"))).alias("rev_by_month"),
        F.min("m").alias("first_m"),
        F.max("m").alias("last_m"),
    )
    spined = per_acct.select(
        "account_id",
        F.explode(
            F.expr("sequence(first_m, add_months(last_m, 1), interval 1 month)")
        ).alias("month_start_date"),
        "rev_by_month",
    ).select(
        "account_id",
        "month_start_date",
        F.coalesce(
            F.element_at("rev_by_month", F.col("month_start_date")), F.lit(0.0)
        ).alias("end_rev"),
    )
    w = Window.partitionBy("account_id").orderBy("month_start_date")
    flagged = spined.withColumn(
        "begin_rev", F.coalesce(F.lag("end_rev").over(w), F.lit(0.0))
    ).withColumn(
        "has_paid_before",
        F.coalesce(
            F.max(F.when(F.col("end_rev") > 0, 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        == 1,
    )
    begin, end = F.col("begin_rev"), F.col("end_rev")
    return _persist(flagged.select(
        "account_id",
        "month_start_date",
        "begin_rev",
        "end_rev",
        (end - begin).alias("delta"),
        F.when((begin == 0) & (end > 0) & ~F.col("has_paid_before"), "new")
        .when((begin == 0) & (end > 0) & F.col("has_paid_before"), "reactivation")
        .when((begin > 0) & (end == 0), "churn")
        .when((begin > 0) & (end > 0) & (end - begin > 0), "upgrade")
        .when((begin > 0) & (end > 0) & (end - begin < 0), "downgrade")
        .when((begin == 0) & (end == 0), "zero")
        .otherwise("no_change")
        .alias("movement_type"),
    ))


@query(
    "a11_pivot",
    oracle="""
    SELECT l_returnflag,
           SUM(CAST(floor(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END
             * 10000 + 0.5) AS BIGINT)) / 10000.0 AS qty_open,
           SUM(CAST(floor(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END
             * 10000 + 0.5) AS BIGINT)) / 10000.0 AS qty_fulfilled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a11_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (beyond-reference): pivot with explicit value list — Spark
    plans it as conditional aggregation, identical to the oracle's CASE
    sums; listing pivot values keeps the schema static and avoids the
    extra distinct-values job."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(exact_sum("l_quantity"))
    )
    return out.select(
        "l_returnflag",
        F.coalesce("O", F.lit(0.0)).alias("qty_open"),
        F.coalesce("F", F.lit(0.0)).alias("qty_fulfilled"),
    )


@query(
    "a12_unpivot",
    oracle="""
    SELECT o_orderkey, k.measure, k.value
    FROM orders,
    LATERAL (VALUES ('total_price', o_totalprice),
                    ('custkey_as_double', CAST(o_custkey AS DOUBLE))) k(measure, value)
    """,
)
def a12_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 (beyond-reference): unpivot via stack() — wide measures to
    long (measure, value) rows; a generator, no shuffle."""
    o = T(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'total_price', o_totalprice,"
            " 'custkey_as_double', CAST(o_custkey AS DOUBLE)) AS (measure, value)"
        ),
    )


@query(
    "sql1_join_agg_q3_style",
    oracle="""
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
             AS BIGINT)) / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    """,
)
def sql1_join_agg_q3_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface (SURVEY §3.3): TPC-H Q3-shaped 3-way join + agg
    written as spark.sql text — same Catalyst plan as the DataFrame API.

    Build-side choice is the scale decision here: left to size
    estimates, Catalyst broadcasts the filtered LINEITEM (it fits the
    64 MB threshold at sf0.1 but is the one side that grows without
    bound — at sf1 it flips to a two-sided shuffle join, the suite's
    worst scaler at 4.9x for 10x data). The BROADCAST(bo) hint pins the
    build side to the dimension-shaped subquery (BUILDING orders: slim,
    ~2% of lineitem's bytes), so lineitem streams through the join with
    no shuffle and the partial agg above it reduces to ~1 row per order
    before the single exchange. NOTE the hint is UNCONDITIONAL: Spark
    join hints override autoBroadcastJoinThreshold and are never
    size-demoted by the planner or AQE, so past the point where
    BUILDING orders outgrow broadcastable size (~sf30) this query
    fails hard at the 8 GB broadcast / driver-memory limit rather
    than degrading to a shuffle join. At that scale, drop the hint
    (AQE picks the shuffle join) or gate it on an input-size check —
    the hint is kept here because the suite's operating range ends at
    sf1, where the pinned build side is the right plan."""
    for n, df in T(spark, sf_dir, "customer", "orders", "lineitem").items():
        df.createOrReplaceTempView(n)
    return spark.sql(
        """
        SELECT /*+ BROADCAST(bo) */
               bo.o_orderkey,
               CAST(bo.o_orderdate AS DATE) AS order_date,
               CAST(SUM(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5))
                 / CAST(10000 AS DOUBLE) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem l
        JOIN (
            SELECT o.o_orderkey, o.o_orderdate
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
        ) bo ON l.l_orderkey = bo.o_orderkey
        WHERE l.l_shipdate > TIMESTAMP '1996-01-01'
        GROUP BY bo.o_orderkey, CAST(bo.o_orderdate AS DATE)
        """
    )


@query(
    "sql2_join_agg_q5_style",
    oracle="""
    SELECT n.n_name AS nation,
           SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
             AS BIGINT)) / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def sql2_join_agg_q5_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q5 shape: the 6-way star join (fact x fact x
    four dims) that exercises Catalyst's broadcast chain. LINEITEM —
    the largest table at any SF — is written FIRST so it is the probe
    stream of every join: without CBO stats Catalyst keeps the FROM
    order, and the c-first form broadcast the 4-col pruned lineitem
    (a 6 M-row single-threaded driver hash build at sf1, the
    mis-broadcast class that breaks outright at 100 TB) while
    streaming the small side. Probe-on-fact makes every build side a
    filtered/dimension relation (date-filtered orders, 2-col customer,
    supplier/nation/region), each under the broadcast threshold by
    orders of magnitude more headroom than lineitem, and past the
    threshold the planner's size-driven fallback is a fact-side
    shuffle — the right degradation. One scan of lineitem, five
    broadcast probes fused in one codegen stage, one agg exchange;
    sf1 steady 3.5-4.2 s -> ~1.2 s. The local-supplier predicate
    (c_nationkey = s_nationkey) rides the join output as a filter.
    Revenue uses the scaled-integer floor trick in BOTH engines, so the
    sum is order-independent and bit-identical."""
    for n, df in T(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    ).items():
        df.createOrReplaceTempView(n)
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               CAST(SUM(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5))
                 / CAST(10000 AS DOUBLE) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
          AND c.c_nationkey = s.s_nationkey
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
        """
    )


@query(
    "sql3_exists_q4_style",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def sql3_exists_q4_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q4 shape: correlated EXISTS — Catalyst
    DECORRELATES the subquery into a left-semi join (never a per-row
    subquery execution), with the returnflag filter pushed into the
    lineitem scan below it; plan-tested. The dual of j5's anti join.

    The EXISTS side is FACT-SIZED (25% of lineitem's orderkeys), so it
    takes the in-subquery SHUFFLE_HASH hint (survives decorrelation —
    the sql12 lesson): without it AQE saw the post-filter key column
    under the broadcast threshold at sf1 and BROADCAST 1.5M fact keys
    (single-threaded driver hash build, driver-OOM shape at scale) —
    the r11 A/B measured the hinted plan 2.3x faster at sf1
    (1.33 -> 0.60 s) and 1.8x at sf0.1 on top of removing the hazard."""
    for n, df in T(spark, sf_dir, "orders", "lineitem").items():
        df.createOrReplaceTempView(n)
    return spark.sql(
        """
        SELECT o.o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT /*+ SHUFFLE_HASH(l) */ 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        GROUP BY o.o_orderpriority
        """
    )


@query(
    "sql4_recursive_spine",
    oracle="""
    WITH RECURSIVE months(month_start) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT CAST(month_start + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE month_start < DATE '1996-12-01')
    SELECT m.month_start,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           SUM(CAST(floor(COALESCE(o.o_totalprice, 0) * 10000 + 0.5) AS BIGINT))
             / 10000.0 AS total_price
    FROM months m
    LEFT JOIN orders o
      ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m.month_start
    GROUP BY m.month_start
    """,
)
def sql4_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface: WITH RECURSIVE (Spark 4.1) generating a month
    spine — the dbt date_spine semantics (F19) as an acyclic recursive
    CTE instead of explode(sequence) — left-joined to orders with
    zero-fill, both engines running the same recursion. (Cycle-safe
    closure still needs the iterative operator: Spark recursion is
    UNION ALL-only, so dedup_clusters remains large-star/small-star.)

    Scale shape: orders pre-aggregate to month grain BEFORE the spine
    join (a raw months-LEFT-JOIN-orders can't broadcast — LeftOuter
    only builds the right side, and orders is the unbounded one), so
    the join inputs are both month-sized and the fact table pays one
    grouped scan."""
    for n, df in T(spark, sf_dir, "orders").items():
        df.createOrReplaceTempView(n)
    return spark.sql(
        """
        WITH RECURSIVE months(month_start) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT add_months(month_start, 1) FROM months
          WHERE month_start < DATE '1996-12-01'),
        by_month AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                 count(o_orderkey) AS n_orders,
                 SUM(FLOOR(o_totalprice * 10000 + 0.5)) AS scaled_price
          FROM orders
          GROUP BY 1)
        SELECT m.month_start,
               COALESCE(b.n_orders, 0) AS n_orders,
               CAST(COALESCE(b.scaled_price, 0)
                 / CAST(10000 AS DOUBLE) AS DOUBLE) AS total_price
        FROM months m
        LEFT JOIN by_month b ON b.month_start = m.month_start
        """
    )


@query(
    "m2_waterfall_rollup",
    oracle=f"""
    WITH base AS ({_M1_SQL})
    SELECT month_start_date,
           SUM(CAST(floor(begin_rev * 10000 + 0.5) AS BIGINT)) / 10000.0 AS begin_rev,
           SUM(CAST(floor(end_rev * 10000 + 0.5) AS BIGINT)) / 10000.0 AS end_rev,
           SUM(CAST(floor(CASE WHEN movement_type = 'new' THEN end_rev ELSE 0 END
             * 10000 + 0.5) AS BIGINT)) / 10000.0 AS new_rev,
           SUM(CAST(floor(CASE WHEN movement_type = 'reactivation' THEN end_rev ELSE 0 END
             * 10000 + 0.5) AS BIGINT)) / 10000.0 AS reactivation_rev,
           SUM(CAST(floor(CASE WHEN movement_type = 'upgrade' THEN delta ELSE 0 END
             * 10000 + 0.5) AS BIGINT)) / 10000.0 AS expansion_rev,
           SUM(CAST(floor(CASE WHEN movement_type = 'downgrade' THEN abs(delta) ELSE 0 END
             * 10000 + 0.5) AS BIGINT)) / 10000.0 AS contraction_rev,
           SUM(CAST(floor(CASE WHEN movement_type = 'churn' THEN begin_rev ELSE 0 END
             * 10000 + 0.5) AS BIGINT)) / 10000.0 AS churn_rev,
           CAST(SUM(CASE WHEN end_rev > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS active_accounts,
           CAST(SUM(CASE WHEN movement_type = 'churn' THEN 1 ELSE 0 END) AS BIGINT)
             AS churned_accounts
    FROM base GROUP BY month_start_date
    """,
)
def m2_waterfall_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: the waterfall mart on top of M1 — one grouped pass with
    movement-conditional exact sums + conditional distinct counts
    (reference: mart_mrr_waterfall_month.sql:29-52). With M1 this is the
    reference's full flagship chain, oracle-verified end-to-end on the
    driver corpus."""
    base = m1_movement_classification(spark, sf_dir)
    mt = F.col("movement_type")
    return base.groupBy("month_start_date").agg(
        exact_sum("begin_rev").alias("begin_rev"),
        exact_sum("end_rev").alias("end_rev"),
        exact_sum(F.when(mt == "new", F.col("end_rev")).otherwise(0.0)).alias("new_rev"),
        exact_sum(
            F.when(mt == "reactivation", F.col("end_rev")).otherwise(0.0)
        ).alias("reactivation_rev"),
        exact_sum(F.when(mt == "upgrade", F.col("delta")).otherwise(0.0)).alias(
            "expansion_rev"
        ),
        exact_sum(
            F.when(mt == "downgrade", F.abs(F.col("delta"))).otherwise(0.0)
        ).alias("contraction_rev"),
        exact_sum(F.when(mt == "churn", F.col("begin_rev")).otherwise(0.0)).alias(
            "churn_rev"
        ),
        # (account_id, month) is the input's unique grain, so distinct
        # account counts degrade to conditional row counts — no expand
        F.sum(F.when(F.col("end_rev") > 0, 1).otherwise(0)).cast("bigint").alias(
            "active_accounts"
        ),
        F.sum(F.when(mt == "churn", 1).otherwise(0)).cast("bigint").alias(
            "churned_accounts"
        ),
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits  +  §2.7 scalar functions
# ---------------------------------------------------------------------------


@query(
    "o1_ordered_topn",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o1_ordered_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2: deterministic ORDER BY ... LIMIT (reference: dim_date.sql:54).
    Spark plans TakeOrderedAndProject — per-partition top-N then a tiny
    merge, no global sort."""
    o = T(spark, sf_dir, "orders")["orders"]
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "w5_rank_kit",
    oracle="""
    WITH m AS (
      SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS month_start_date,
             SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0 AS revenue
      FROM orders GROUP BY 1, 2)
    SELECT o_custkey, month_start_date, revenue,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           CAST(ntile(4) OVER (PARTITION BY o_custkey
                               ORDER BY month_start_date) AS INT) AS quartile,
           lead(revenue) OVER (PARTITION BY o_custkey
                               ORDER BY month_start_date) AS next_revenue,
           first_value(revenue) OVER (PARTITION BY o_custkey
                                      ORDER BY month_start_date
                                      ROWS UNBOUNDED PRECEDING) AS first_revenue
    FROM m
    WINDOW w AS (PARTITION BY o_custkey ORDER BY revenue DESC, month_start_date)
    """,
)
def w5_rank_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 (beyond-reference; SURVEY §2.5 'absent' list): rank /
    dense_rank / ntile / lead / first_value — available by construction,
    demonstrated over the entity-month grain with deterministic
    orderings."""
    o = T(spark, sf_dir, "orders")["orders"]
    m = o.groupBy(
        "o_custkey", F.trunc("o_orderdate", "month").alias("month_start_date")
    ).agg(exact_sum("o_totalprice").alias("revenue"))
    w_rev = Window.partitionBy("o_custkey").orderBy(F.desc("revenue"), "month_start_date")
    w_time = Window.partitionBy("o_custkey").orderBy("month_start_date")
    return m.select(
        "o_custkey",
        "month_start_date",
        "revenue",
        F.rank().over(w_rev).alias("rnk"),
        F.dense_rank().over(w_rev).alias("drnk"),
        F.ntile(4).over(w_time).alias("quartile"),
        F.lead("revenue").over(w_time).alias("next_revenue"),
        F.first("revenue").over(
            w_time.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("first_revenue"),
    )


@query(
    "w6_range_frames",
    oracle="""
    WITH m AS (
      SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS month_start_date,
             (EXTRACT(year FROM date_trunc('month', o_orderdate)) * 12
              + EXTRACT(month FROM date_trunc('month', o_orderdate)))::BIGINT AS month_idx,
             SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS revenue_scaled
      FROM orders GROUP BY 1, 2, 3)
    SELECT o_custkey, month_start_date,
           revenue_scaled / 10000.0 AS revenue,
           CAST(SUM(revenue_scaled) OVER (PARTITION BY o_custkey ORDER BY month_idx
                RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) / 10000.0
             AS trailing_3mo_revenue,
           percent_rank() OVER w AS revenue_pct_rank,
           cume_dist() OVER w AS revenue_cume_dist
    FROM m
    WINDOW w AS (PARTITION BY o_custkey ORDER BY revenue_scaled)
    """,
)
def w6_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 (beyond-reference; closes SURVEY §2.5's absent list): RANGE
    frame + percent_rank/cume_dist. The trailing-3-month revenue uses a
    VALUE-based (RANGE) frame over a month index — calendar gaps shrink
    the frame, which ROWS frames cannot express. The frame aggregates
    the SCALED LONG (exact_sum_scaled): integer sums are
    order-independent under any window evaluation strategy (running
    accumulator vs DuckDB's segment tree), where double sums would
    diverge in the last ulp. percent_rank/cume_dist are exact small
    rationals — identical in both engines."""
    o = load_testdata(spark, sf_dir, "orders")["orders"]
    m = o.groupBy(
        "o_custkey", F.trunc("o_orderdate", "month").alias("month_start_date")
    ).agg(exact_sum_scaled("o_totalprice").alias("revenue_scaled"))
    m = m.withColumn(
        "month_idx",
        (F.year("month_start_date") * 12 + F.month("month_start_date")).cast("long"),
    )
    w_range = (
        Window.partitionBy("o_custkey").orderBy("month_idx").rangeBetween(-2, 0)
    )
    w_rank = Window.partitionBy("o_custkey").orderBy("revenue_scaled")
    return m.select(
        "o_custkey",
        "month_start_date",
        (F.col("revenue_scaled") / 10000.0).alias("revenue"),
        (F.sum("revenue_scaled").over(w_range).cast("long") / 10000.0).alias(
            "trailing_3mo_revenue"
        ),
        F.percent_rank().over(w_rank).alias("revenue_pct_rank"),
        F.cume_dist().over(w_rank).alias("revenue_cume_dist"),
    )


@query(
    "o3_set_ops",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 450000
    """,
)
def o3_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 (beyond-reference; SURVEY §2.6 notes no set ops in the
    reference): INTERSECT / EXCEPT — customers with both fulfilled and
    open orders, minus big spenders. Spark plans these as semi/anti
    joins."""
    o = T(spark, sf_dir, "orders")["orders"]
    f = o.filter("o_orderstatus = 'F'").select("o_custkey")
    op = o.filter("o_orderstatus = 'O'").select("o_custkey")
    big = o.filter("o_totalprice > 450000").select("o_custkey")
    return f.intersect(op).exceptAll(big.distinct())


@query(
    "f_date_kit",
    oracle="""
    SELECT DISTINCT
           CAST(o_orderdate AS DATE) AS d,
           date_trunc('month', o_orderdate)::DATE AS month_start_date,
           (date_trunc('month', o_orderdate) + INTERVAL 1 MONTH - INTERVAL 1 DAY)::DATE
             AS month_end_date,
           (date_trunc('month', o_orderdate) - INTERVAL 1 MONTH)::DATE AS prev_month_start,
           (date_trunc('month', o_orderdate) + INTERVAL 1 MONTH)::DATE AS next_month_start,
           CAST(extract(year FROM o_orderdate) AS INT) AS year,
           CAST(extract(quarter FROM o_orderdate) AS INT) AS quarter,
           CAST(extract(month FROM o_orderdate) AS INT) AS month,
           CAST(extract(year FROM o_orderdate) * 100 + extract(month FROM o_orderdate) AS INT)
             AS year_month_key,
           strftime(o_orderdate, '%B') AS month_name,
           CAST(datediff('month', DATE '1970-01-01', date_trunc('month', o_orderdate)) AS INT)
             AS month_index
    FROM orders
    """,
)
def f_date_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11-F18: the dim_date derivation kit (reference: dim_date.sql:21-48)
    — month truncation, EOM via last_day, prev/next month, extracts,
    composite year-month key, month name, month index since 1970."""
    o = T(spark, sf_dir, "orders")["orders"]
    d = F.col("o_orderdate")
    return o.select(
        d.cast("date").alias("d"),
        F.trunc(d, "month").alias("month_start_date"),
        F.last_day(d).alias("month_end_date"),
        F.add_months(F.trunc(d, "month"), -1).alias("prev_month_start"),
        F.add_months(F.trunc(d, "month"), 1).alias("next_month_start"),
        F.year(d).alias("year"),
        F.quarter(d).alias("quarter"),
        F.month(d).alias("month"),
        (F.year(d) * 100 + F.month(d)).alias("year_month_key"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.months_between(F.trunc(d, "month"), F.lit("1970-01-01").cast("date"))
        .cast("int")
        .alias("month_index"),
    ).distinct()


@query(
    "f19_date_spine",
    oracle="""
    SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY))::DATE
             AS date_day
    """,
)
def f19_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19: day-grain date spine, END-EXCLUSIVE like dbt_utils.date_spine
    (reference: dim_date.sql:9-13) — [2024-01-01, 2024-04-01) = 91 days.
    Generated with explode(sequence(...)): constant-folded, engine-side."""
    from ..functions.dates import date_spine

    return date_spine(spark, "2024-01-01", "2024-04-01", end_exclusive=True)


@query(
    "a8_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a8_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (beyond-reference coverage): exact interpolated percentiles —
    == DuckDB ``quantile_cont`` bit-for-bit.

    r14 shape: ONE flag-keyed exchange -> per-flag value counts -> a
    cumulative window + closed-form interpolation, replacing the
    ``percentile()`` TypedImperativeAggregate. The old plan
    (plans/r14/…_before.txt) was two ObjectHashAggregates whose every
    partial task built TWO OpenHashMap<value, count> buffers over the
    full scan and serialized both through the exchange, and whose 3
    final tasks each merged and sorted the whole per-flag value map
    twice (once per percentile) — single-threaded, interpreted, and
    the suite's slowest entry (guide §2.3: aggregate before you
    shuffle; §1.2: fix the algorithm first). Three forms were A/B'd:
    (a) naive groupBy(flag, price) value counts — pays a second
    exchange on (flag, price) that reduces ~nothing at sf0.1
    (l_extendedprice is ~99% distinct there: 594,330 of 600,000 rows);
    (b) raw-row ``row_number`` — one exchange but the per-flag sort is
    row-volume-sized (sf1: 6.4-6.9 s vs 2.6-2.9); (c) SHIPPED:
    ``repartition(l_returnflag)`` BEFORE the groupBy —
    HashPartitioning(flag) satisfies the aggregate's
    ClusteredDistribution(flag, price) (equal (flag, price) implies
    equal flag), so EnsureRequirements elides the aggregate's own
    exchange: one exchange of raw (flag, price) rows, an O(n) hash
    aggregate collapses duplicates, and the window sorts only DISTINCT
    values (price-domain-bounded, not row-bounded — 10x fewer rows at
    sf1, the 100 TB direction). The 0-based rank range of each value
    row is [_cum - _c, _cum - 1] within the flag's sorted non-null
    multiset; the 4 bracketing order statistics are picked by
    rank-range cover, and interpolation is EXACTLY Spark's
    ``getPercentile`` arithmetic — position = (n-1 as double) * q on
    the non-null count, result = lo when ceil==floor or the bracketing
    values are equal, else (ceil-pos)*lo + (pos-floor)*hi — so the
    output is bit-identical to the old aggregate (equality pinned in
    tests). Nulls sort first and contribute 0 to the rank cumsum
    (percentile ignores nulls; count(*) must not — hence _n vs _n_nn).
    100 TB note: the per-flag sort is one task per flag over the
    flag's distinct values; past a single task's sort budget the
    two-pass range-bucket house form (compaction_plan's shape) is the
    next step — not needed at any bench scale."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    price = F.col("l_extendedprice")
    cnts = (
        li.select("l_returnflag", "l_extendedprice")
        .repartition("l_returnflag")
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count("*").alias("_c"))
    )
    w_ord = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    w_all = Window.partitionBy("l_returnflag")
    nn = F.when(price.isNotNull(), F.col("_c")).otherwise(F.lit(0))
    cum = cnts.select(
        "l_returnflag",
        "l_extendedprice",
        "_c",
        F.sum(nn).over(w_ord).alias("_cum"),
        F.sum(nn).over(w_all).alias("_n_nn"),
        F.sum("_c").over(w_all).alias("_n"),
    )

    def _pos(q: float):
        # Spark Percentile: position = (count - 1).toDouble * percentage
        return (F.col("_n_nn") - 1).cast("double") * F.lit(q)

    def _covers(q: float, edge):
        idx = edge(_pos(q))
        return (F.col("_cum") - F.col("_c") <= idx) & (idx < F.col("_cum"))

    hits = cum.filter(
        (
            price.isNotNull()
            & (
                _covers(0.5, F.floor) | _covers(0.5, F.ceil)
                | _covers(0.9, F.floor) | _covers(0.9, F.ceil)
            )
        )
        # a flag whose prices are all null keeps its one (null) value
        # row, so it surfaces with null p50/p90 and its n, as
        # percentile() and quantile_cont give
        | (F.col("_n_nn") == 0)
    )
    picked = hits.groupBy("l_returnflag").agg(
        *[
            F.max(F.when(_covers(q, edge), price)).alias(name)
            for q, edge, name in (
                (0.5, F.floor, "_lo50"),
                (0.5, F.ceil, "_hi50"),
                (0.9, F.floor, "_lo90"),
                (0.9, F.ceil, "_hi90"),
            )
        ],
        F.max("_n_nn").alias("_n_nn"),
        F.max("_n").alias("n"),
    )

    def _interp(q: float, lo_name: str, hi_name: str):
        pos = (F.col("_n_nn") - 1).cast("double") * F.lit(q)
        lo, hi = F.floor(pos), F.ceil(pos)
        lo_v, hi_v = F.col(lo_name), F.col(hi_name)
        return (
            F.when(hi == lo, lo_v)
            .when(hi_v == lo_v, lo_v)  # Spark returns lo before interpolating
            .otherwise(
                (hi.cast("double") - pos) * lo_v + (pos - lo.cast("double")) * hi_v
            )
        )

    return picked.select(
        "l_returnflag",
        _interp(0.5, "_lo50", "_hi50").alias("p50"),
        _interp(0.9, "_lo90", "_hi90").alias("p90"),
        "n",
    )


@query(
    "a9_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a9_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (beyond-reference coverage): hierarchical ROLLUP totals —
    subtotal + grand-total rows in one grouped pass (Spark expands
    grouping sets; partial aggregation still applies)."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), exact_sum("l_quantity").alias("sum_qty")
    )


@query(
    "a10_salted_agg",
    oracle="""
    SELECT l_suppkey,
           SUM(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n,
           max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_suppkey
    """,
)
def a10_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: skew-proof two-stage salted aggregation
    (operators/skew.salted_agg) — results must equal the plain groupBy
    (the oracle IS the plain groupBy). Hot keys split across 16 salts in
    stage 1; stage 2 merges tiny per-salt partials. Money stays a scaled
    LONG through both stages (exact merge in any order), divided back
    only at the end."""
    from ..operators.skew import salted_agg

    li = T(spark, sf_dir, "lineitem")["lineitem"]
    out = salted_agg(
        li,
        ["l_suppkey"],
        {
            "revenue_scaled": (
                "sum",
                F.sum(F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5))),
            ),
            "n": ("sum", F.count("*")),
            "max_qty": ("max", F.max("l_quantity")),
        },
        n_salts=16,
    )
    return out.select(
        "l_suppkey",
        (F.col("revenue_scaled") / F.lit(10000.0)).alias("revenue"),
        "n",
        "max_qty",
    )


@query(
    "f_misc_scalars",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           least(l_quantity, 25.0) AS capped_qty,
           abs(l_extendedprice - 30000.0) AS price_dev,
           coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none,
           CASE WHEN l_discount >= 0.05 THEN 'high'
                WHEN l_discount > 0.0 THEN 'low'
                ELSE 'zero' END AS discount_band
    FROM lineitem
    """,
)
def f_misc_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F8/F9/F10 + F2: least, abs, coalesce/nullif, multi-branch CASE
    (reference: fct_subscription_month.sql:48, fct_account_month.sql:110-123,152)."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("capped_qty"),
        F.abs(F.col("l_extendedprice") - 30000.0).alias("price_dev"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")).alias(
            "flag_or_none"
        ),
        F.when(F.col("l_discount") >= 0.05, "high")
        .when(F.col("l_discount") > 0.0, "low")
        .otherwise("zero")
        .alias("discount_band"),
    )


@query(
    "x_salted_join",
    oracle="""
    SELECT s.s_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(floor(l.l_extendedprice * 10000 + 0.5) AS BIGINT)) / 10000.0
             AS revenue
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1
    """,
)
def x_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof salted equi-join (operators/skew.salted_join): the big
    side salts its join key across 8 reducers, the small side replicates
    per salt — a hot supplier key no longer lands on one task. Results
    must equal the plain join (the oracle IS the plain join + rollup);
    money stays a scaled LONG through the merge."""
    from ..operators.skew import salted_join

    t = T(spark, sf_dir, "lineitem", "supplier")
    li = t["lineitem"].select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    su = t["supplier"].select(F.col("s_suppkey").alias("suppkey"), "s_nationkey")
    j = salted_join(li, su, ["suppkey"], n_salts=8)
    return j.groupBy("s_nationkey").agg(
        F.count("*").alias("n"),
        exact_sum("l_extendedprice", scale=4).alias("revenue"),
    )


@query(
    "x_merge_upsert",
    oracle="""
    WITH tgt AS (
      SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
    src AS (
      SELECT o_orderkey, o_orderdate,
             o_totalprice + 1.0 AS o_totalprice, o_orderstatus,
             (o_orderstatus = 'F') AS is_delete
      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')
    SELECT t.o_orderkey, t.o_orderdate, t.o_totalprice, t.o_orderstatus
    FROM tgt t WHERE NOT EXISTS (SELECT 1 FROM src s
                                 WHERE s.o_orderkey = t.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus
    FROM src WHERE NOT is_delete
    """,
)
def x_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic MERGE (upsert + matched-delete) as one declarative plan
    (sources/tables.merge_upsert — the dbt incremental merge strategy
    the reference's delete+insert approximates,
    fct_subscription_month.sql:1-5): a restatement batch (orders from
    1996 on, repriced, 'F' rows deleted) merges into the pre-1997
    target. One key-partitioned anti join + union — no windows, no
    full-outer; at 100 TB the keys shuffle once (zero with a bucketed
    target) and the union is a metadata concat."""
    from ..sources.tables import merge_upsert

    o = T(spark, sf_dir, "orders")["orders"]
    cols = ["o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus"]
    target = o.filter(F.col("o_orderdate") < "1997-01-01").select(*cols)
    source = o.filter(F.col("o_orderdate") >= "1996-01-01").select(
        "o_orderkey",
        "o_orderdate",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderstatus",
        (F.col("o_orderstatus") == "F").alias("is_delete"),
    )
    return merge_upsert(target, source, ["o_orderkey"], delete_col="is_delete")


_SQL5 = """
    SELECT CAST(CAST(SUM(CAST(floor(l.l_extendedprice * 10000 + 0.5) AS BIGINT))
             AS DOUBLE) / CAST(70000 AS DOUBLE) AS DOUBLE) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#19' AND p.p_size <= 10
      AND l.l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
                      / count(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@query("sql5_correlated_agg_q17_style", oracle=_SQL5)
def sql5_correlated_agg_q17_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q17 shape: a CORRELATED SCALAR AGGREGATE
    subquery (per-part average quantity threshold). Catalyst
    decorrelates it into a grouped aggregate over lineitem joined back
    on l_partkey — the per-part averages table is partkey-sized, so at
    any SF the rewrite is one extra keyed aggregation, never a per-row
    subquery execution. Exactness: the threshold is built from an
    exact bigint quantity sum (quantities are integral) and the
    revenue from the scaled-integer floor trick — both engines compute
    identical doubles. The brand/size filters prune part BEFORE the
    join (pushdown), so the probe side is ~4% of lineitem."""
    for n, df in T(spark, sf_dir, "lineitem", "part").items():
        df.createOrReplaceTempView(n)
    return spark.sql(_SQL5)


_SQL6 = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey % 10 = 0
"""


@query("sql6_lateral_topk", oracle=_SQL6)
def sql6_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface: correlated LATERAL subquery with ORDER BY +
    LIMIT (top-2 orders per customer). Catalyst DECORRELATES the
    lateral into a per-key ranking over one orders shuffle — never a
    per-customer subquery execution; the deterministic tie-break
    (o_orderkey) makes the top-2 unique, so the oracle replays
    row-for-row. The SQL twin of p9_topk_per_group's DataFrame window."""
    for n, df in T(spark, sf_dir, "customer", "orders").items():
        df.createOrReplaceTempView(n)
    return spark.sql(_SQL6)


_SQL7 = """
    WITH per_cust AS (
      SELECT c.c_custkey, CAST(coalesce(oc.n, 0) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
        FROM orders WHERE o_orderstatus <> 'F'
        GROUP BY o_custkey) oc
      ON oc.o_custkey = c.c_custkey)
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM per_cust GROUP BY n_orders
"""


@query("sql7_outer_join_histogram_q13_style", oracle=_SQL7)
def sql7_outer_join_histogram_q13_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q13 shape: customer-order-count distribution
    via LEFT OUTER join + double aggregation. Written in the
    scale-correct form — the per-custkey count is pushed BELOW the
    join (TPC-H's literal phrasing joins raw orders to customer first,
    shuffling every order row on the join key; the pushed form reduces
    orders to one row per customer before any join, which Catalyst
    does not do automatically for outer joins). At 100 TB: orders
    collapses ~10:1 in a map-side-combined agg, the outer join is
    keyed one-row-per-side, and the histogram agg's input is
    customer-sized. coalesce(n, 0) keeps zero-order customers in the
    distribution — the semantics the outer join exists for."""
    for n, df in T(spark, sf_dir, "customer", "orders").items():
        df.createOrReplaceTempView(n)
    return spark.sql(_SQL7)


_SQL8 = """
    SELECT DISTINCT p.p_partkey, p.p_brand, s.s_name, n.n_name,
           l.l_extendedprice AS best_price
    FROM part p, lineitem l, supplier s, nation n, region r
    WHERE p.p_partkey = l.l_partkey AND l.l_suppkey = s.s_suppkey
      AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'EUROPE' AND p.p_size <= 5
      AND l.l_extendedprice = (
        SELECT min(l2.l_extendedprice)
        FROM lineitem l2, supplier s2, nation n2, region r2
        WHERE l2.l_partkey = p.p_partkey AND l2.l_suppkey = s2.s_suppkey
          AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE')
"""


_SQL9 = """
    WITH stats AS (
      SELECT CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents,
             CAST(count(*) AS BIGINT) AS n
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS totacctbal_cents
    FROM customer c
    WHERE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) * (SELECT n FROM stats)
            > (SELECT total_cents FROM stats)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1
"""


@query("sql9_global_avg_anti_join_q22_style", oracle=_SQL9)
def sql9_global_avg_anti_join_q22_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q22 shape: a GLOBAL-AVERAGE scalar subquery
    gating an ANTI-JOINED aggregate (above-average-balance customers
    with no urgent orders). Catalyst plans the scalar stats as a 1-row
    broadcast and the NOT EXISTS as a broadcast/shuffled anti join —
    no per-row subquery execution at any SF. Exactness: avg(double) is
    ORDER-DEPENDENT across engines, so the threshold is the integer
    cross-multiplication cents·n > total_cents over exact scaled sums
    — same rows selected in both engines by construction (the
    functions/money.exact_sum discipline applied to a predicate)."""
    for n, df in T(spark, sf_dir, "customer", "orders").items():
        df.createOrReplaceTempView(n)
    return spark.sql(_SQL9)


@query("sql8_correlated_min_q2_style", oracle=_SQL8)
def sql8_correlated_min_q2_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q2 shape: min-cost-supplier lookup via a
    CORRELATED scalar MIN whose subquery is itself a multi-table join
    (the hardest decorrelation pattern in TPC-H). Catalyst rewrites it
    to a per-partkey min aggregate over the region-filtered
    lineitem⋈supplier⋈nation⋈region subtree joined back on
    (l_partkey, price) — one extra keyed aggregation at any SF, never
    per-row re-execution; the region/nation dims broadcast. Equality
    on the min DOUBLE is exact (no arithmetic, same stored value both
    sides), and DISTINCT collapses tie multiplicity identically in
    both engines."""
    for n, df in T(
        spark, sf_dir, "part", "lineitem", "supplier", "nation", "region"
    ).items():
        df.createOrReplaceTempView(n)
    return spark.sql(_SQL8)


_SQL10 = """
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) > 3000000)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents,
           CAST(SUM(CAST(floor(l.l_quantity * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_qty_q
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE),
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
"""


@query("sql10_having_in_q18_style", oracle=_SQL10)
def sql10_having_in_q18_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q18 shape (large-volume customers): an IN
    subquery whose members are defined by a grouped HAVING — the
    "find the heavy keys first, then join back for detail" pattern.
    Catalyst plans the IN as a LEFT SEMI join against the big-orders
    aggregate, so lineitem is scanned twice but shuffled on the same
    l_orderkey key both times, and the semi join prunes orders BEFORE
    the wide customer join. FROM order is FACT FIRST (the no-CBO house
    rule): lineitem streams and probes the pruned orders slice and the
    customer dim — the dim-first text made the fact the probe target
    instead (r11 A/B: sf1 1.07 -> 0.78 s; both forms broadcast only
    the dim and the post-HAVING key list, so this is probe order, not
    a hazard fix). Exactness: the quantity threshold compares
    exact scaled-int sums (quantities are decimals stored as double —
    summing doubles would be order-dependent at the boundary)."""
    for n, df in T(spark, sf_dir, "customer", "orders", "lineitem").items():
        df.createOrReplaceTempView(n)
    return spark.sql(_SQL10)


_SQL11 = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                  AS BIGINT)) AS BIGINT) AS total_rev_q
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_rev_q
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev_q = (SELECT max(total_rev_q) FROM revenue)
"""


@query("sql11_top_view_q15_style", oracle=_SQL11)
def sql11_top_view_q15_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q15 shape (top supplier): a derived revenue
    view consumed TWICE — once joined for detail, once reduced to a
    global MAX scalar gate. Catalyst computes the revenue aggregate,
    feeds one copy to the 1-row max (broadcast back as a filter) and
    one to the supplier join; the quarter filter pushes down to the
    lineitem scan. Exactness: revenue is the exact scaled-int sum
    (sql1's discipline), so the max-equality selects identical rows in
    both engines — the double-sum version could tie-break differently
    on summation order."""
    for n, df in T(spark, sf_dir, "supplier", "lineitem").items():
        df.createOrReplaceTempView(n)
    return spark.sql(_SQL11)


_SQL12 = """
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey != l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey != l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20
"""


@query("sql12_double_exists_q21_style", oracle=_SQL12)
def sql12_double_exists_q21_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q21 shape (waiting suppliers): the hardest
    decorrelation combo in TPC-H — an EXISTS and a NOT EXISTS both
    correlated to the SAME outer row, the NOT EXISTS additionally
    referencing a second outer table (o.o_orderdate). Catalyst plans
    them as a left-semi and a left-anti join against two re-reads of
    lineitem — no per-row subquery execution at any SF. The Spark text
    differs from the oracle in two scale-load-bearing ways: (1)
    lineitem l1 is written FIRST so the fact is the probe stream
    (supplier-first made Catalyst BROADCAST both 6 M-row lineitem
    re-reads — two single-threaded driver hash builds at sf1, broken
    outright at 100 TB); (2) the semi/anti sides carry SHUFFLE_HASH
    hints, so l1 exchanges ONCE on l_orderkey and the o join plus both
    subquery joins all reuse that partitioning with parallel builds
    (orders' status-'F' slice is ~half the table — linearly scaling,
    NOT bounded by construction, so it gets SHUFFLE_HASH on the shared
    l_orderkey key rather than a forced broadcast; only the
    dimension-sized supplier broadcasts). sf1 steady
    3.2-3.5 s -> ~1.5 s. The reference's Q21 lateness predicate
    (receipt > commit) maps to shipdate > order date + 90 days on this
    schema; the final ORDER BY/LIMIT tie-breaks on the unique supplier
    name, so the top-20 cut is deterministic."""
    for n, df in T(spark, sf_dir, "supplier", "orders", "lineitem").items():
        df.createOrReplaceTempView(n)
    return spark.sql(
        """
        SELECT /*+ SHUFFLE_HASH(o), BROADCAST(s) */
               s.s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          AND EXISTS (SELECT /*+ SHUFFLE_HASH(l2) */ 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey != l1.l_suppkey)
          AND NOT EXISTS (SELECT /*+ SHUFFLE_HASH(l3) */ 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey != l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20
        """
    )


@query(
    "a13_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_qty,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
             AS grouping_level
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a13_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (beyond-reference coverage): full CUBE — all four grouping
    sets in one pass (Spark expands the sets; partial aggregation
    still applies), with grouping() flags disambiguating real NULLs
    from subtotal rows — the OLAP completion of a9's ROLLUP."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        exact_sum("l_quantity").alias("sum_qty"),
        (
            F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
        ).cast("bigint").alias("grouping_level"),
    )


@query(
    "o4_null_ordering",
    oracle="""
    (SELECT 'nf' AS ordering, o_orderkey,
            nullif(o_orderstatus, 'O') AS st
     FROM orders ORDER BY st NULLS FIRST, o_orderkey LIMIT 25)
    UNION ALL
    (SELECT 'nl' AS ordering, o_orderkey,
            nullif(o_orderstatus, 'O') AS st
     FROM orders ORDER BY st NULLS LAST, o_orderkey LIMIT 25)
    """,
)
def o4_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 (beyond-reference coverage): explicit NULLS FIRST / NULLS
    LAST ordering parity. The engines DISAGREE by default (Spark ASC =
    nulls first, DuckDB ASC = nulls last), so portable ordered output
    must always spell the null placement — this query locks both
    directions with a deterministic tiebreak. TakeOrdered both ways,
    no full sort."""
    o = T(spark, sf_dir, "orders")["orders"]
    st = F.expr("nullif(o_orderstatus, 'O')").alias("st")
    nf = (
        o.select(F.lit("nf").alias("ordering"), "o_orderkey", st)
        .orderBy(F.col("st").asc_nulls_first(), "o_orderkey")
        .limit(25)
    )
    nl = (
        o.select(F.lit("nl").alias("ordering"), "o_orderkey", st)
        .orderBy(F.col("st").asc_nulls_last(), "o_orderkey")
        .limit(25)
    )
    return nf.unionByName(nl)


@query(
    "w7_value_kit",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(st IGNORE NULLS) OVER w AS first_nonnull_status,
           last_value(st IGNORE NULLS) OVER w AS last_nonnull_status,
           nth_value(st, 2 IGNORE NULLS) OVER w AS second_nonnull_status
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 nullif(o_orderstatus, 'O') AS st
          FROM orders WHERE o_custkey < 200) t
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def w7_value_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 (beyond-reference coverage): first_value / last_value /
    nth_value with IGNORE NULLS over a full-partition frame — the
    value-function completion of the w5/w6 ranking and frame kits.
    One customer-keyed window exchange."""
    o = T(spark, sf_dir, "orders")["orders"]
    t = o.filter(F.col("o_custkey") < 200).select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.expr("nullif(o_orderstatus, 'O')").alias("st"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return t.select(
        "o_custkey",
        "o_orderkey",
        F.first("st", ignorenulls=True).over(w).alias("first_nonnull_status"),
        F.last("st", ignorenulls=True).over(w).alias("last_nonnull_status"),
        F.nth_value("st", 2, ignoreNulls=True).over(w).alias("second_nonnull_status"),
    )


@query(
    "sql13_disjunctive_join_q19_style",
    oracle="""
    SELECT SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
             AS BIGINT)) / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def sql13_disjunctive_join_q19_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q19 shape (disjunctive multi-predicate join):
    three OR'd brand/size/quantity branches that each reference BOTH
    join sides, so the disjunction must ride the join output as one
    filter — the planner test is that Catalyst still derives the
    conjunctive l_partkey equi-key (never a nested-loop over the OR),
    broadcasts the dimension, and collapses scan+join+filter+agg into
    one codegen stage over the lineitem probe stream. Revenue uses the
    scaled-integer floor trick, so the one-row answer is bit-identical
    in both engines."""
    for n, df in T(spark, sf_dir, "lineitem", "part").items():
        df.createOrReplaceTempView(n)
    return spark.sql(
        """
        SELECT CAST(SUM(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5))
                 / CAST(10000 AS DOUBLE) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity BETWEEN 20 AND 30)
        """
    )


@query(
    "sql14_promo_ratio_q14_style",
    oracle="""
    WITH q AS (
      SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                        * 10000 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS pq,
             CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                  * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS tq
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1997-04-01')
    SELECT pq / 10000.0 AS promo_revenue, tq / 10000.0 AS total_revenue,
           CASE WHEN tq > 0
                THEN 100.0 * CAST(pq AS DOUBLE) / CAST(tq AS DOUBLE)
           END AS promo_share_pct
    FROM q
    """,
)
def sql14_promo_ratio_q14_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface, Q14 shape (promo revenue share): conditional
    aggregation — one pass computing a CASE-gated sum and the plain sum,
    published as a ratio. Both sums are exact scaled bigints and the
    share is ONE final IEEE division of those two integers (the house
    ratio rule — never an engine round()), so the percentage is
    bit-identical in both engines. Date range prunes the lineitem scan
    (PushedFilters); part broadcasts into the probe stream."""
    for n, df in T(spark, sf_dir, "lineitem", "part").items():
        df.createOrReplaceTempView(n)
    return spark.sql(
        """
        WITH q AS (
          SELECT SUM(CASE WHEN p.p_type = 'PROMO'
                       THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                            * 10000 + 0.5) AS BIGINT) ELSE 0L END) AS pq,
                 SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                      * 10000 + 0.5) AS BIGINT)) AS tq
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
            AND l.l_shipdate < TIMESTAMP '1997-04-01')
        SELECT CAST(pq / CAST(10000 AS DOUBLE) AS DOUBLE) AS promo_revenue,
               CAST(tq / CAST(10000 AS DOUBLE) AS DOUBLE) AS total_revenue,
               CASE WHEN tq > 0
                    THEN CAST(100.0 AS DOUBLE) * CAST(pq AS DOUBLE)
                         / CAST(tq AS DOUBLE)
               END AS promo_share_pct
        FROM q
        """
    )


@query(
    "a14_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_qty,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
             AS grouping_level
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus))
    """,
)
def a14_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 (beyond-reference coverage): EXPLICIT grouping sets — a
    combination neither ROLLUP nor CUBE produces (both single-column
    slices plus the pair, no grand total), completing the OLAP trio
    with a9/a13. One pass, Spark's Expand + partial aggregation;
    grouping() flags disambiguate subtotal rows from real NULLs
    identically in both engines."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count("*").alias("n"),
        exact_sum("l_quantity").alias("sum_qty"),
        (
            F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
        ).cast("bigint").alias("grouping_level"),
    )
