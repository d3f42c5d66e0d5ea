"""Structured Streaming variants of the incremental surface (SURVEY §2.8).

The reference is batch-only — its "incremental" models are micro-batch
jobs (high-watermark append S10, rolling-window restatement S11). These
are their continuous twins:

- ``stream_raw_to_staging``      : S10 as a file-source stream — new raw
  parquet files appear, staged rows append; exactly-once via checkpoint.
- ``windowed_event_counts``      : watermarked tumbling-window aggregate —
  the streaming twin of x_event_tumbling_window; late events beyond the
  watermark are dropped instead of restated.
- ``session_window_stats``       : native session windows (gap-based),
  the streaming twin of operators/sessionize.
- ``stream_dedup``               : watermark-bounded exactly-once dedup
  on event_id — the ingestion guarantee against at-least-once sources;
  the streaming face of the dedup family in operators/dedup.

All three run with ``trigger(availableNow=True)`` for deterministic
batch-driven tests and with the default micro-batch trigger in
production. State stores shard by the grouping key — same partitioning
story as the batch shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import read_events

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # ns (parquet TIMESTAMP(NANOS) as long)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over an events parquet directory; ``ts``
    normalized to TimestampType by ``sources.tables.read_events``, as
    the batch loader does. The file schema is probed with one batch-read
    of the footer (streams need an explicit schema up front)."""
    return read_events(
        spark,
        lambda: spark.readStream.schema(spark.read.parquet(path).schema).parquet(path),
    )


def stream_raw_to_staging(
    events: DataFrame, batch_ts: str = "1970-01-01 00:00:00"
) -> DataFrame:
    """S10 as a stream: the staging typed-projection contract applied
    continuously (cleaning + lineage stamping, no shuffle)."""
    return events.select(
        "event_id",
        "ts",
        "user_id",
        F.lower(F.trim("event_type")).alias("event_type"),
        F.when(F.col("value") < 0, None).otherwise(F.col("value")).alias("value"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.lit(batch_ts).cast("timestamp").alias("ingested_at"),
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id — the ingestion-side guarantee a
    training pipeline needs against at-least-once sources (replayed
    files, retried producers). ``dropDuplicatesWithinWatermark`` keys
    state by event_id and evicts entries older than the watermark, so
    state is bounded by (arrival rate x watermark), not by history —
    unlike ``dropDuplicates`` whose state grows forever. Duplicates
    arriving within the watermark window are suppressed exactly-once;
    the batch twin is operators/dedup.exact_dedup over content hashes."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_attribution_join(
    events: DataFrame,
    within_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every purchase attributed to the
    user's clicks in the preceding ``within_minutes`` — the classic
    click->conversion attribution join, run continuously.

    Both sides are watermarked and the join condition bounds event time
    on BOTH sides, so the state store can evict: click state is held
    only ``watermark + within_minutes`` past the stream's max event
    time (unbounded state otherwise — Spark rejects stream-stream
    inner joins without a time bound). State shards by user_id, the
    equi-key. The batch twin is the x_interval_overlap bucketized
    range join."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""c_user = p_user
             AND purchase_ts >= click_ts
             AND purchase_ts <= click_ts + interval {within_minutes} minutes"""
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "value",
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type. The watermark
    bounds state: windows older than max(event time) - watermark finalize
    and evict — the streaming answer to the batch restatement window.

    Pass ``slide`` for HOPPING windows (batch twin:
    operators/sessionize.hopping_window): each event updates its
    window/slide overlapping window states; state stays
    watermark-bounded because every one of those windows still closes
    when the watermark passes its end — the state footprint is
    (window/slide)x the tumbling case, not unbounded."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.approx_count_distinct("user_id").alias("n_users_approx"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "n_users_approx",
        )
    )


def session_window_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native gap-based session windows per user — streaming twin of
    operators/sessionize.session_stats (state = one open session per
    user, merged as events arrive, emitted once the watermark passes)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("batch_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count + value total carried across
    micro-batches in the state store (the streaming twin of a
    cumulative window). Emits one row per (user, batch) with the
    updated running totals.

    State shards by the grouping key exactly like a shuffle partition —
    the same partitioning story as the batch windows, so the operator
    scales with the key cardinality, not the stream length."""
    import pandas as pd

    def update(key, pdfs, state):
        n, total = (state.get if state.exists else (lambda: (0, 0.0)))()
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "batch_events": [batch_n],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_append_to_warehouse(
    staged: DataFrame,
    out_path: str,
    checkpoint_dir: str,
) -> None:
    """S10 as a continuous job with exactly-once delivery.

    foreachBatch + plain append is at-least-once under retry; here each
    micro-batch lands in its own ``_epoch=<id>`` partition via dynamic
    partition overwrite, so a replayed epoch REPLACES itself instead of
    duplicating — idempotent, hence exactly-once end-to-end with the
    checkpointed source offsets. Readers just read the directory
    (partition column pruned out)."""
    from pyspark.sql import functions as F2

    def write_epoch(df: DataFrame, epoch_id: int) -> None:
        (
            df.withColumn("_epoch", F2.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_path)
        )

    q = (
        staged.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_dedup_incremental(
    doc_stream: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> None:
    """Continuous near-dup dedup of an ingest stream against the
    standing MinHash index — the streaming twin of
    ``operators.dedup.minhash_lsh_dedup_incremental``.

    foreachBatch runs the EXACT batch operator per micro-batch (same
    signatures, same band join, same verification), so streaming and
    nightly-batch dedup decisions are identical by construction — the
    property that matters when both paths feed one corpus. Each epoch's
    pairs land in their own ``_epoch`` partition via dynamic partition
    overwrite (same idempotent-replay scheme as
    ``stream_append_to_warehouse``), so retries don't duplicate pairs:
    exactly-once end-to-end with the checkpointed source offsets.

    The index side is a STATIC table (bucketed by (band, bkey) in
    production — see tests/test_bucketing): per micro-batch the band
    join shuffles only the batch, O(batch) work per trigger. Appending
    the returned new_sigs/new_bands to the index tables is the
    (batch-side) compaction job's business, not the stream's."""
    from pyspark.sql import functions as F2

    from ..operators import dedup
    from ..state import release_persisted

    def dedup_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        pairs, _sigs, _bands = dedup.minhash_lsh_dedup_incremental(
            batch_df, index_sigs, index_bands, id_col, text_col,
            k=k, n_hashes=n_hashes, bands=bands, threshold=threshold,
        )
        (
            pairs.withColumn("_epoch", F2.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_path)
        )
        release_persisted()

    q = (
        doc_stream.writeStream.foreachBatch(dedup_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_ann_index_append(
    embed_stream: DataFrame,
    model,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Continuous ANN index maintenance: each micro-batch of new
    embeddings is assigned to its inverted list under the FROZEN
    coarse-quantizer ``model`` (``similarity.ivf_build_lists`` — the
    same batch operator ``ivf_incremental_topk`` uses, so streamed and
    nightly-batch index rows are identical by construction) and
    APPENDED to the stored index at ``index_path``.

    Layout: partitioned by (_epoch, centroid_id) with dynamic partition
    overwrite — a replayed epoch overwrites exactly its own partitions,
    so retries don't duplicate list rows (exactly-once end-to-end with
    the checkpointed source offsets), while centroid_id stays a
    partition column so probe-time list pruning still works on the
    read-back table. Per trigger the work is O(batch): one narrow Arrow
    assignment pass, no shuffle, no touch of existing index files.
    Retraining the quantizer is the (batch-side) rebuild event — under
    a frozen model the appended index is bit-identical to a full
    rebuild, which is what makes this safe as a standing stream."""
    from pyspark.sql import functions as F2

    from ..operators import similarity

    def append_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        lists = similarity.ivf_build_lists(batch_df, model, id_col, vec_col)
        (
            lists.withColumn("_epoch", F2.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch", "centroid_id")
            .parquet(index_path)
        )

    q = (
        embed_stream.writeStream.foreachBatch(append_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_ivf_pq_index_append(
    embed_stream: DataFrame,
    ivf_model,
    pq_model,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
) -> None:
    """Continuous IVF-PQ index maintenance — the compressed-codes twin
    of ``stream_ann_index_append``: each micro-batch is coarse-assigned
    AND product-quantized in one narrow Arrow pass under the FROZEN
    (ivf_model, pq_model) pair (``pq.ivf_pq_build`` — the same batch
    operator, so streamed and nightly index rows are identical by
    construction) and appended to the stored codes index.

    Same exactly-once layout as the IVF twin: partitioned by (_epoch,
    centroid_id) with dynamic partition overwrite — a replayed epoch
    overwrites exactly its own partitions; centroid_id stays the
    probe-time pruning key. Per trigger the work is O(batch) and the
    appended rows are CODES (M ints/vector, 30-60x narrower than the
    vectors) — at 100 TB the standing stream's write amplification is
    code-sized, not vector-sized. Retraining either quantizer is the
    batch-side rebuild event; under frozen models streamed == rebuilt
    (pytest-pinned, like every index twin here)."""
    from pyspark.sql import functions as F2

    from ..operators import pq

    def append_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        lists = pq.ivf_pq_build(
            batch_df, ivf_model, pq_model, id_col, vec_col, n_subspaces
        )
        (
            lists.withColumn("_epoch", F2.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch", "centroid_id")
            .parquet(index_path)
        )

    q = (
        embed_stream.writeStream.foreachBatch(append_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory(df: DataFrame, name: str) -> None:
    """Drive a streaming DataFrame to completion against currently
    available input (availableNow) into an in-memory table ``name``."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_curation_gate(
    doc_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "qw0",
    weight_range: int = 1000,
    threshold: float = 0.0,
    sample_fraction: float = 1.0,
    sample_salt: str = "s0",
) -> DataFrame:
    """Streaming curation gate: the hashed-linear quality classifier
    (operators/text.quality_classifier) + deterministic Bernoulli
    sampling (operators/sampling.hash_sample) applied to a document
    INGEST STREAM — docs are scored and admitted/dropped at arrival
    time, append-mode, no aggregation state, no watermark.

    The batch classifier computes the weight sum as explode + doc-keyed
    groupBy (the 100 TB shape: map-side combine, codegen'd). A stream
    can't aggregate in append mode without windows, so the twin folds
    the SAME integer weights in-row with ``aggregate`` over the token
    array — integer summation is order-free, so batch and stream
    admission decisions are IDENTICAL by construction (pinned by
    tests/test_streaming.test_stream_curation_gate_matches_batch).
    Higher-order-function folds are CodegenFallback (interpreted); that
    trade is per-arriving-row on a stream, not per-corpus-scan, so the
    batch path keeps the explode shape and the stream pays the
    interpreter only at ingest rates."""
    from ..operators.sampling import hash_uniform

    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "),
        lambda t: t != F.lit(""),
    )
    span = 2 * weight_range + 1
    w_sum = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + (
            F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(salt), t)), 1, 8), 16, 10)
            .cast("long")
            % span
            - weight_range
        ),
    )
    n_tokens = F.size(toks)
    logit = w_sum.cast("double") / (n_tokens * F.lit(weight_range)).cast("double")
    u = hash_uniform(id_col, sample_salt)
    return (
        doc_stream.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("w_sum", w_sum)
        .withColumn("quality_logit", logit)
        .withColumn("sample_u", u)
        .filter(
            (F.col("quality_logit") >= F.lit(float(threshold)))
            & (F.col("sample_u") < F.lit(float(sample_fraction)))
        )
    )


def stream_funnel(
    event_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    steps: list[str] | None = None,
    max_days: int = 7,
) -> None:
    """Continuous funnel maintenance — the streaming twin of
    operators/sessionize.funnel, correct under ARBITRARY event
    disorder (not just watermark-bounded): a funnel's step times are
    order-sensitive mins (step k must be strictly after step k-1), so
    an early view arriving late can retroactively change which click
    qualifies — no bounded per-user accumulator survives that. Instead
    each micro-batch (1) appends only the funnel-relevant events to a
    compacted store, idempotently (epoch-partitioned dynamic overwrite,
    the stream_append_to_warehouse exactly-once trick), then (2) reruns
    the BATCH funnel over the compacted store and publishes the
    refreshed snapshot.

    Scale: the store holds only step-typed events (a fraction of the
    stream), the batch funnel over it is the one-shuffle chained-window
    plan, and the snapshot overwrite is bounded by user cardinality.
    Exactness over incrementality is the right trade for a funnel —
    pinned by tests/test_streaming.test_stream_funnel_matches_batch
    (shuffled arrival order, identical snapshot)."""
    from ..operators.sessionize import funnel

    steps = steps or ["view", "click", "purchase"]
    relevant = event_stream.filter(F.col("event_type").isin(steps)).select(
        "user_id", "ts", "event_type"
    )

    def refresh(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        (
            df.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(store_path)
        )
        snap = funnel(
            spark.read.parquet(store_path).drop("_epoch"),
            steps,
            max_days=max_days,
        )
        snap.write.mode("overwrite").parquet(out_path)

    q = (
        relevant.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


ANOMALY_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_trailing", T.LongType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("is_anomaly", T.BooleanType()),
    ]
)

_ANOMALY_STATE_SCHEMA = T.StructType(
    [T.StructField("window_vq", T.ArrayType(T.LongType()))]
)


def stream_anomaly_flags(
    events: DataFrame,
    window: int = 10,
    min_points: int = 5,
    z_threshold: float = 3.0,
    scale: int = 10_000,
) -> DataFrame:
    """Streaming twin of ``operators.stats.rolling_zscore_anomalies``:
    per-user trailing-window z-scores computed continuously, the last
    ``window`` quantized values carried in the state store across
    micro-batches — so a spike arriving in batch N is scored against
    baseline observations from batches N-1, N-2, ... exactly as the
    batch operator scores it over the full history (pinned by
    tests/test_streaming: split the stream anywhere and the flags are
    identical).

    Arithmetic is the SAME exact-int recipe: values quantize to longs,
    frame sums are exact, z is a fixed IEEE double expression with
    half-away-from-zero rounding (Python floats ARE IEEE doubles — the
    ops match the JVM expression bit-for-bit). State is bounded:
    ``window`` longs per user, sharded by the grouping key."""
    import pandas as pd

    def update(key, pdfs, state):
        buf = list(state.get[0]) if state.exists else []
        out_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            import math

            for ev, val in zip(pdf["event_id"].tolist(), pdf["value"].tolist()):
                v = 0.0 if val is None or val != val else float(val)
                # identical quantization to the batch op: floor(v*scale+0.5)
                vq = int(math.floor(v * scale + 0.5))
                n = len(buf)
                z = None
                flag = False
                if n >= min_points:
                    s = float(sum(buf))
                    ss = float(sum(b * b for b in buf))
                    nd = float(n)
                    disc = nd * ss - s * s
                    if disc > 0:
                        mean = s / nd
                        var = disc / (nd * nd)
                        raw = (float(vq) - mean) / math.sqrt(var)
                        z = math.copysign(
                            math.floor(abs(raw) * 1e6 + 0.5) / 1e6, raw
                        )
                        flag = abs(z) >= z_threshold
                out_rows.append((key[0], ev, v, len(buf), z, flag))
                buf.append(vq)
                if len(buf) > window:
                    buf.pop(0)
        state.update((buf,))
        yield pd.DataFrame(
            out_rows,
            columns=[
                "user_id", "event_id", "value", "n_trailing", "z", "is_anomaly",
            ],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ANOMALY_OUT_SCHEMA,
        stateStructType=_ANOMALY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_url_dedup(
    doc_stream: DataFrame,
    index_urls: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> None:
    """Continuous crawl-URL dedup against the standing canonical-URL
    index — the streaming twin of
    ``operators.url.url_canonical_incremental``. foreachBatch runs the
    EXACT batch operator per micro-batch (same canonicalization chain,
    same first-wins + index-membership rule), so streaming and nightly
    batch agree by construction; each epoch's flags land in their own
    ``_epoch`` partition via dynamic partition overwrite (the
    ``stream_append_to_warehouse`` idempotent-replay scheme), so a
    replayed trigger overwrites itself: exactly-once end-to-end with
    the checkpointed source offsets. Per trigger the index side only
    streams through one semi-join scan against the broadcast batch
    key set — O(batch) exchanged bytes."""
    from pyspark.sql import functions as F2

    from ..operators import url as url_ops

    def flag_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        out = url_ops.url_canonical_incremental(
            batch_df, index_urls, id_col, F2.col(url_col)
        )
        (
            out.withColumn("_epoch", F2.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_path)
        )

    q = (
        doc_stream.writeStream.foreachBatch(flag_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
