"""Event-stream batch operators: gap sessionization, tumbling windows,
JSON property extraction. All window/groupBy compositions.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..state import shared


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """Gap-based sessions: a session breaks when the time since the
    previous event exceeds the gap. session_seq = cumulative count of
    breaks; one shuffle on the user key.

    ``tiebreak_col`` makes ordering deterministic for equal timestamps;
    it is ignored when absent from ``df`` (pass an id column for frames
    with duplicate (user, ts) rows)."""
    order = [ts_col] + (
        [tiebreak_col] if tiebreak_col and tiebreak_col in df.columns else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return (
        df.withColumn("is_new_session", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "session_id",
            F.concat_ws("-", F.col(user_col).cast("string"), F.col("session_seq").cast("string")),
        )
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    s = sessionize(df, user_col, ts_col, gap_minutes, tiebreak_col)
    return s.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        (F.max(F.col(ts_col).cast("long")) - F.min(F.col(ts_col).cast("long"))).alias(
            "duration_secs"
        ),
    )


def tumbling_window(
    df: DataFrame, ts_col: str = "ts", unit: str = "hour"
) -> DataFrame:
    """Tumbling event-time window aggregate (``date_trunc`` to one
    ``unit``)."""
    return df.groupBy(
        F.date_trunc(unit, F.col(ts_col)).alias("window_start"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def hopping_window(
    df: DataFrame,
    ts_col: str = "ts",
    size_minutes: int = 60,
    slide_minutes: int = 15,
) -> DataFrame:
    """Hopping (sliding) event-time windows: each event lands in
    ``size/slide`` overlapping windows (``window(ts, '60 minutes',
    '15 minutes')``).

    Uses Spark's native ``F.window`` with a slide: the TimeWindow rule
    expands each row into size/slide window rows (a projection, no
    join), then ONE shuffle with map-side partial aggregation on
    (window_start, event_type). Window starts are epoch-aligned
    multiples of the slide, so the expansion is pure arithmetic and the
    same grid is reproducible in any engine. At 100 TB the cost is the
    4x row expansion feeding a partial agg — rows collapse to
    ~(windows x types) before the exchange; no per-window scans.

    ``size_minutes`` must be a multiple of ``slide_minutes`` (Spark
    allows non-divisible slides; the oracle replay grid assumes the
    divisible case)."""
    if size_minutes % slide_minutes:
        raise ValueError("size_minutes must be a multiple of slide_minutes")
    w = F.window(
        F.col(ts_col), f"{size_minutes} minutes", f"{slide_minutes} minutes"
    )
    return (
        df.groupBy(w, F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
        )
    )


def resample_locf(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    unit: str = "hour",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-series resample to a regular grid with gap-fill + LOCF
    (last observation carried forward) — the hypertable
    ``time_bucket_gapfill + locf`` op: per entity, one row per ``unit``
    bucket between its first and last event, carrying the latest
    observed value across empty buckets (``is_gap`` marks them).

    Two shuffles at any scale: (1) per-(entity, bucket) last value via
    ``max_by`` — map-side combined, deterministic tiebreak on
    (ts, tiebreak_col); (2) per-entity fold into a bucket->value map +
    grid explode (m1's single-shuffle zero-fill pattern) — the LOCF
    window then reuses the same hash partitioning, no third exchange.
    Grid size is calendar-bounded per entity, safe at any row count."""
    bucket = F.date_trunc(unit, F.col(ts_col))
    bv = (
        df.withColumn("_b", bucket)
        .groupBy(user_col, "_b")
        .agg(
            F.expr(
                f"max_by({value_col}, struct({ts_col}, {tiebreak_col}))"
            ).alias("_v")
        )
    )
    per_user = bv.groupBy(user_col).agg(
        F.map_from_entries(F.collect_list(F.struct("_b", "_v"))).alias("_m"),
        F.min("_b").alias("_mn"),
        F.max("_b").alias("_mx"),
    )
    grid = per_user.select(
        user_col,
        "_m",
        F.explode(F.expr(f"sequence(_mn, _mx, interval 1 {unit})")).alias("bucket_ts"),
    )
    val = F.col("_m")[F.col("bucket_ts")]
    wff = (
        Window.partitionBy(user_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.select(
        F.col(user_col),
        "bucket_ts",
        F.last(val, ignorenulls=True).over(wff).alias("value_locf"),
        val.isNull().alias("is_gap"),
    )


def funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_days: int | None = 7,
) -> DataFrame:
    """Ordered conversion funnel: per user, the earliest completion of
    ``steps`` in strict temporal order — step k's timestamp is the MIN
    event time of type steps[k] strictly after step k-1's timestamp
    (classic product-analytics funnel; the reference's warehouse has no
    event surface, this extends SURVEY §7.6's events family).

    ONE shuffle at any scale: every step timestamp is a conditional MIN
    over the same user-partitioned unbounded window, so Catalyst plans
    K chained Window operators over a single exchange (no per-step
    self-joins — the join form shuffles the event table K times).
    ``max_days`` caps the whole journey relative to step 1; a step
    outside the cap nulls itself and everything after it.

    Returns one row per user that completed step 1: step_1_ts ..
    step_K_ts, reached_step, converted, secs_to_convert."""
    w = Window.partitionBy(user_col)
    micros = F.unix_micros(F.col(ts_col))
    out = df.select(user_col, type_col, micros.alias("_us"))
    prev: F.Column | None = None
    deadline: F.Column | None = None
    for i, step in enumerate(steps, start=1):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col("_us") > prev)
        if deadline is not None:
            cond = cond & (F.col("_us") <= deadline)
        out = out.withColumn(
            f"_s{i}_us", F.min(F.when(cond, F.col("_us"))).over(w)
        )
        prev = F.col(f"_s{i}_us")
        if i == 1 and max_days is not None:
            deadline = prev + F.lit(max_days * 86400 * 1_000_000)
    k = len(steps)
    reached = sum(
        (F.when(F.col(f"_s{i}_us").isNotNull(), 1).otherwise(0))
        for i in range(1, k + 1)
    )
    agg = [
        F.max(F.timestamp_micros(F.col(f"_s{i}_us"))).alias(f"step_{i}_ts")
        for i in range(1, k + 1)
    ] + [F.max(F.col(f"_s{k}_us") - F.col("_s1_us")).alias("_conv_us")]
    res = (
        out.groupBy(user_col)
        .agg(*agg, F.max(reached).alias("reached_step"))
        .filter(F.col("step_1_ts").isNotNull())
    )
    return res.select(
        user_col,
        *[f"step_{i}_ts" for i in range(1, k + 1)],
        F.col("reached_step").cast("int").alias("reached_step"),
        (F.col("reached_step") == k).alias("converted"),
        F.floor(F.col("_conv_us") / 1_000_000).cast("bigint").alias("secs_to_convert"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    unit: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    period; each cell counts distinct cohort members active ``offset``
    periods later. retention_pct is exact-rational (1e6-scaled integer
    division) so the value hashes bit-identically in any engine.

    Cohort assignment is a MIN over the user-partitioned unbounded
    window — the events table shuffles ONCE on the user key and never
    again at event volume (the distinct + matrix aggregation run over
    (cohort, offset, user) tuples, bounded by users x periods, not by
    events)."""
    w = Window.partitionBy(user_col)
    unit_days = {"day": 1, "week": 7}[unit]
    day0 = F.date_trunc("day", F.col(ts_col)).cast("date")
    withc = df.select(
        F.col(user_col),
        day0.alias("_d"),
    ).withColumn("cohort_start", F.min(F.col("_d")).over(w))
    # the matrix rows and the cohort-size lookup both read the cells
    cells = shared(
        withc.select(
            user_col,
            "cohort_start",
            F.floor(F.datediff(F.col("_d"), F.col("cohort_start")) / unit_days)
            .cast("int")
            .alias("period_offset"),
        )
        .distinct()
        .groupBy("cohort_start", "period_offset")
        .agg(F.countDistinct(user_col).alias("n_active"))
    )
    sizes = cells.filter(F.col("period_offset") == 0).select(
        "cohort_start", F.col("n_active").alias("cohort_size")
    )
    return cells.join(F.broadcast(sizes), "cohort_start").select(
        "cohort_start",
        "period_offset",
        "n_active",
        "cohort_size",
        (
            F.floor(F.col("n_active") * 1000000 / F.col("cohort_size")).cast("bigint")
        ).alias("retention_ppm"),
    )


def json_props(df: DataFrame, props_col: str = "props", key: str = "k") -> DataFrame:
    """Extract a JSON property as typed column (events.props is a JSON
    string; get_json_object is codegen'd, no UDF)."""
    return df.withColumn(
        f"prop_{key}", F.get_json_object(F.col(props_col), f"$.{key}").cast("int")
    )


def event_transitions(df: DataFrame, min_count: int = 1) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral-sequence prep step (next-event
    prediction features, funnel-drop analysis): for each user, order
    events by (ts, event_id) and pair every event type with its
    successor via lead(); count the (from, to) matrix and the row-
    normalized transition probability.

    Shape: ONE user-keyed shuffle feeds the lead window; the matrix
    agg is |event_types|^2 groups (map-side combined) and the row
    normalization is a window over that already-tiny frame. p is a
    single double division of two exact bigints, rounded — the DuckDB
    oracle replays it bit-for-bit. At 100 TB only the per-user window
    exchange is data-sized; everything after is matrix-sized."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        df.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count("*").alias("n"))
    )
    row_w = Window.partitionBy("from_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(row_w))
        .filter(F.col("n") >= min_count)
        .select(
            "from_type",
            "to_type",
            "n",
            "row_total",
            F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias("p"),
        )
    )


def event_paths(df: DataFrame, depth: int = 3, top_k: int = 20) -> DataFrame:
    """Top-k event PATHS of length ``depth`` — the funnel-DISCOVERY
    step (``event_transitions`` gives one-step probabilities; real
    funnels are multi-step): for every position in each user's ordered
    event stream, the next ``depth`` event types form a path, counted
    corpus-wide and ranked. No per-user sequence is ever materialized —
    the path column comes from ``depth − 1`` stacked lead() offsets
    over ONE user-keyed window exchange, so per-row state is bounded by
    ``depth``, not by how busy the user is (the collect_list form dies
    on bot accounts).

    A path counts only when EVERY step is non-null — a NULL event_type
    anywhere in the window disqualifies that starting position (not
    just a NULL last step: ``concat_ws`` silently skips NULLs, so
    filtering only the last lead would silently emit a too-short
    'a>c' path for an 'a>NULL>c' window — wrong depth, and divergent
    from any engine whose ``||`` chain nulls the whole path).

    Output: (path string 'a>b>c', n, share_ppm of all complete paths,
    rank), deterministic ties on the path string; TakeOrdered top-k."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = [F.col(f"_s{j}") for j in range(depth)]
    paths = (
        df.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_s0", F.col("event_type"))
        .withColumns(
            {
                f"_s{j}": F.lead("event_type", j).over(w)
                for j in range(1, depth)
            }
        )
        .filter(
            functools.reduce(
                lambda a, b: a & b, (s.isNotNull() for s in steps)
            )
        )
        .groupBy(F.concat_ws(">", *steps).alias("_path"))
        .agg(F.count("*").alias("n"))
    )
    total = paths.agg(F.sum("n").alias("_t"))
    return (
        paths.crossJoin(F.broadcast(total))
        .select(
            F.col("_path").alias("path"),
            "n",
            F.expr("(n * 1000000) div _t").alias("share_ppm"),
        )
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(top_k)
    )


def last_touch_attribution(
    df: DataFrame,
    conversion_type: str = "purchase",
    channel_types: tuple[str, ...] = ("view", "click", "signup"),
    scale: int = 100,
) -> DataFrame:
    """Last-touch revenue attribution — every conversion's value is
    credited to the most recent preceding CHANNEL event (view/click/
    signup) in the same user's stream: the marketing-analytics rollup
    every event warehouse ends up writing. One user-keyed window
    exchange; the credited channel is ``last_value(... IGNORE NULLS)``
    over the strictly-preceding frame, so non-channel noise events
    (errors, other conversions) never absorb credit.

    Output per channel: (channel, n_conversions, attributed_value_q,
    attributed_value) — the value sum is an exact scaled-long
    (``scale`` = cents-style quantization; the money.exact_sum
    discipline), the double is derived once at the end. Conversions
    with NO preceding channel event land under channel
    'unattributed'."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.when(
        F.col("event_type").isin(*channel_types), F.col("event_type")
    )
    vq = F.floor(F.col("value") * F.lit(scale) + F.lit(0.5)).cast("long")
    return (
        df.select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn("_touch", F.last(channel, ignorenulls=True).over(w))
        .filter(F.col("event_type") == conversion_type)
        .groupBy(
            F.coalesce(F.col("_touch"), F.lit("unattributed")).alias("channel")
        )
        .agg(
            F.count("*").alias("n_conversions"),
            F.sum(vq).alias("attributed_value_q"),
        )
        .select(
            "channel",
            "n_conversions",
            "attributed_value_q",
            F.round(
                F.col("attributed_value_q").cast("double") / F.lit(float(scale)), 6
            ).alias("attributed_value"),
        )
    )


def rfm_segments(
    df: DataFrame,
    conversion_type: str = "purchase",
    scale: int = 100,
    recency_grain_s: int = 86400,
) -> DataFrame:
    """RFM segmentation — the classic customer-value grid: every user
    scored 1-3 on Recency (last activity), Frequency (conversions) and
    Monetary (exact scaled conversion value), by TERCILES of each
    metric's distribution, then rolled up per (r, f, m) segment.

    Exactness: tercile assignment uses the integer grid rule from
    ``text.perplexity_buckets`` — collapse users to the distinct-value
    grid per metric, two-pass prefix sums (no global window),
    ``least(2, 3·prefix div N) + 1`` — ties share a grid row and
    therefore a score, so the segmentation replays bit-for-bit.

    Shape (ONE-PASS grid fold, r7): the checkpointed user aggregate
    unpivots to (metric, val) rows and ALL THREE tercile grids come
    out of a single grouped count + per-metric prefix-sum window —
    one job instead of three prefix-sum pipelines — then the unified
    (metric, val, score) grid (checkpointed, grid-bounded) broadcasts
    onto the stacked rows in one join and a user-keyed pivot
    reassembles (r, f, m) scores WITHOUT a new exchange (the stacked
    rows inherit per_user's hash partitioning on user_id). The
    per-metric window is partitioned (house rule: no global-order
    windows); its per-partition volume is a VALUE GRID, not users.

    The broadcast-grid form is only sound if every grid is BOUNDED:
    f_val and m_val collapse naturally (counts / discrete money), but
    raw last-activity timestamps are ≈ one distinct value PER USER — a
    user-count broadcast at production scale. Recency is therefore
    quantized to ``recency_grain_s`` (default: day grain) BEFORE the
    grid, making the r grid calendar-bounded (≤ one row per day of
    history) no matter how many users exist; the division floors (not
    truncates) so pre-1970 timestamps bucket identically to DuckDB's
    ``//``. Coarsen ``scale`` / ``recency_grain_s`` if a grid ever
    outgrows broadcast (same lever as perplexity_buckets).

    Output: (r_score, f_score, m_score, n_users, monetary_q)."""
    if recency_grain_s <= 0:
        raise ValueError("rfm_segments: recency_grain_s must be positive")
    g_s = int(recency_grain_s)
    vq = F.floor(F.col("value") * F.lit(scale) + F.lit(0.5)).cast("long")
    # exact integer FLOOR division (Spark `div` truncates toward zero;
    # pmod is non-negative, so subtracting it makes the dividend an
    # exact multiple — no double-precision detour for large epochs)
    r_val = F.expr(
        f"(max(cast(ts as long)) - pmod(max(cast(ts as long)), {g_s})) div {g_s}"
    )
    # the grid and the scoring join both read it, through stacked
    per_user = shared(
        df.groupBy("user_id")
        .agg(
            r_val.alias("r_val"),
            F.count_if(F.col("event_type") == conversion_type).alias("f_val"),
            F.coalesce(
                F.sum(F.when(F.col("event_type") == conversion_type, vq)),
                F.lit(0),
            ).cast("long").alias("m_val"),
        )
    )
    stacked = per_user.select(
        "user_id",
        "m_val",
        F.expr("stack(3, 'r', r_val, 'f', f_val, 'm', m_val)").alias(
            "metric", "val"
        ),
    )
    w_cum = (
        Window.partitionBy("metric")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("metric")
    # keeps the stacked aggregate from re-running if the broadcast build splits
    grid = shared(
        stacked.groupBy("metric", "val")
        .agg(F.count("*").alias("_c"))
        .select(
            "metric",
            "val",
            F.sum("_c").over(w_cum).alias("_cum"),
            F.col("_c"),
            F.sum("_c").over(w_tot).alias("_n"),
        )
        .select(
            "metric",
            "val",
            (F.expr("least(2L, (3 * (_cum - _c)) div _n)") + 1).alias("score"),
        )
    )
    scored = (
        stacked.join(F.broadcast(grid), ["metric", "val"])
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("metric") == "r", F.col("score"))).alias("r_score"),
            F.max(F.when(F.col("metric") == "f", F.col("score"))).alias("f_score"),
            F.max(F.when(F.col("metric") == "m", F.col("score"))).alias("m_score"),
            F.max("m_val").alias("m_val"),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users"),
        F.sum("m_val").alias("monetary_q"),
    )
