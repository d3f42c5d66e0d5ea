"""Structured Streaming tests: drive each streaming pipeline to
completion with availableNow over a parquet copy of the events table,
and check agreement with the batch twins."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest

from duckdb_dbt_finance_warehouse_spark import streaming
from duckdb_dbt_finance_warehouse_spark.operators import sessionize
from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    shutil.copy(os.path.join(SF, "events.parquet"), os.path.join(d, "part-0.parquet"))
    return d


def _mem(spark, df, prefix):
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    streaming.pipeline.run_to_memory(df, name)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_staging_appends_typed_rows(spark, events_dir):
    src = streaming.pipeline.read_event_stream(spark, events_dir)
    out = _mem(spark, streaming.stream_raw_to_staging(src), "stg")
    batch = load_testdata(spark, SF, "events")["events"]
    assert out.count() == batch.count()
    row = out.filter("event_id = 0").first()
    assert row["prop_k"] is not None and row["ingested_at"] is not None
    # ns->us normalization matches the batch loader exactly
    assert row["ts"] == batch.filter("event_id = 0").first()["ts"]


def test_stream_dedup_suppresses_replayed_file(spark, events_dir, tmp_path_factory):
    """An at-least-once source replays a whole file; the streaming dedup
    must emit each event_id once."""
    d = str(tmp_path_factory.mktemp("events_dup"))
    shutil.copy(os.path.join(events_dir, "part-0.parquet"), os.path.join(d, "a.parquet"))
    shutil.copy(os.path.join(events_dir, "part-0.parquet"), os.path.join(d, "b.parquet"))
    src = streaming.pipeline.read_event_stream(spark, d)
    out = _mem(spark, streaming.pipeline.stream_dedup(src), "dedup")
    n_unique = load_testdata(spark, SF, "events")["events"].count()
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique


def test_windowed_counts_match_batch_tumbling(spark, events_dir):
    src = streaming.pipeline.read_event_stream(spark, events_dir)
    out = _mem(spark, streaming.windowed_event_counts(src), "win")
    batch = sessionize.tumbling_window(
        load_testdata(spark, SF, "events")["events"], unit="hour"
    )
    got = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in out.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    # availableNow + watermark: every CLOSED window must match the batch
    # aggregate; windows within the 2h watermark of max event time stay
    # open and are legitimately withheld in append mode
    from datetime import timedelta

    missing = set(want) - set(got)
    horizon = max(w for w, _ in want) - timedelta(hours=2)
    assert all(w >= horizon for w, _ in missing), f"closed windows missing: {missing}"
    assert all(got[k] == want[k] for k in got)


def test_hopping_counts_match_batch_hopping(spark, events_dir):
    """Sliding-window streaming aggregate == batch hopping_window on
    every closed window (same caveat as the tumbling test: windows
    still inside the watermark of max event time stay open in append
    mode). n_events only — the streaming side's distinct-user count is
    approximate by necessity."""
    src = streaming.pipeline.read_event_stream(spark, events_dir)
    out = _mem(
        spark,
        streaming.windowed_event_counts(src, window="1 hour", slide="15 minutes"),
        "hop",
    )
    batch = sessionize.hopping_window(
        load_testdata(spark, SF, "events")["events"],
        size_minutes=60,
        slide_minutes=15,
    )
    got = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in out.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    from datetime import timedelta
    import pyspark.sql.functions as SF_

    # append mode emits a window once the watermark (max event time - 2h)
    # passes its END; a 60-min window may legitimately be withheld when
    # window_start > max_ts - 2h - 60min
    max_ts = (
        load_testdata(spark, SF, "events")["events"]
        .agg(SF_.max("ts"))
        .first()[0]
    )
    horizon = max_ts - timedelta(hours=3)
    missing = set(want) - set(got)
    assert all(w > horizon for w, _ in missing), f"closed windows missing: {missing}"
    assert got and all(got[k] == want[k] for k in got)


def test_stream_to_warehouse_exactly_once(spark, tmp_path_factory):
    src_dir = str(tmp_path_factory.mktemp("src"))
    out = str(tmp_path_factory.mktemp("out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    shutil.copy(os.path.join(SF, "events.parquet"), os.path.join(src_dir, "f1.parquet"))

    def run():
        src = streaming.pipeline.read_event_stream(spark, src_dir)
        streaming.pipeline.stream_append_to_warehouse(
            streaming.stream_raw_to_staging(src), out, ckpt
        )

    n_src = load_testdata(spark, SF, "events")["events"].count()
    run()
    assert spark.read.parquet(out).count() == n_src
    # replay with same checkpoint: no new input -> no duplicates
    run()
    assert spark.read.parquet(out).count() == n_src
    # new file arrives -> only the delta lands
    shutil.copy(os.path.join(SF, "events.parquet"), os.path.join(src_dir, "f2.parquet"))
    run()
    assert spark.read.parquet(out).count() == 2 * n_src


def test_stateful_running_totals_match_batch(spark, events_dir):
    from pyspark.sql import functions as F

    src = streaming.pipeline.read_event_stream(spark, events_dir)
    out = _mem(spark, streaming.pipeline.running_user_totals(src), "state")
    batch = load_testdata(spark, SF, "events")["events"]
    want = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("tv"),
        )
        .collect()
    }
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in out.collect()  # availableNow: one emission per user
    }
    assert got == want


def test_session_windows_emit(spark, events_dir):
    src = streaming.pipeline.read_event_stream(spark, events_dir)
    out = _mem(spark, streaming.session_window_stats(src, gap="30 minutes"), "sess")
    assert out.count() > 0
    r = out.first()
    assert r["session_end"] >= r["session_start"] and r["n_events"] >= 1


def test_stream_attribution_join_matches_batch(spark, events_dir):
    """Stream-stream interval join (clicks x purchases within 30 min per
    user) must emit exactly the pairs the batch interval join produces —
    availableNow drains the source, and the time-bounded condition keeps
    click state evictable."""
    from pyspark.sql import functions as F

    src = streaming.pipeline.read_event_stream(spark, events_dir)
    out = _mem(
        spark, streaming.pipeline.stream_attribution_join(src, within_minutes=30), "attr"
    )
    got = {(r["click_id"], r["purchase_id"]) for r in out.collect()}

    ev = load_testdata(spark, SF, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["click_id"], r["purchase_id"])
        for r in clicks.join(
            purchases,
            F.expr(
                "c_user = p_user AND purchase_ts >= click_ts"
                " AND purchase_ts <= click_ts + interval 30 minutes"
            ),
        ).collect()
    }
    assert got and got == want


def test_stream_dedup_incremental_matches_batch(spark, tmp_path_factory):
    """Continuous ingest deduped against the standing MinHash index
    (foreachBatch reusing the batch operator): streamed pairs over two
    source files must equal the batch operator run on the union of the
    batches — identical dedup decisions on both paths. A second start
    with the same checkpoint must be a no-op (exactly-once)."""
    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.operators import dedup
    from duckdb_dbt_finance_warehouse_spark.state import release_persisted

    docs = load_testdata(spark, SF, "documents")["documents"]
    index_docs = docs.filter(F.col("doc_id") % 4 != 0)
    new_docs = docs.filter(F.col("doc_id") % 4 == 0)
    index_sigs = dedup.portable_signatures(
        index_docs, "doc_id", "text", k=4, n_hashes=32
    ).localCheckpoint()
    index_bands = dedup.portable_bands(
        index_sigs, "doc_id", bands=8, n_hashes=32
    ).localCheckpoint()

    src_dir = str(tmp_path_factory.mktemp("doc_stream"))
    stage = str(tmp_path_factory.mktemp("doc_stage"))
    for i, m in enumerate((0, 4)):
        d = os.path.join(stage, f"b{i}")
        new_docs.filter(F.col("doc_id") % 8 == m).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        shutil.copy(os.path.join(d, part), os.path.join(src_dir, f"f{i}.parquet"))
    out_dir = str(tmp_path_factory.mktemp("dedup_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))

    stream = (
        spark.readStream.schema(new_docs.schema)
        .option("maxFilesPerTrigger", 1)  # two micro-batches
        .parquet(src_dir)
    )
    streaming.pipeline.stream_dedup_incremental(
        stream, index_sigs, index_bands, out_dir, ckpt,
        k=4, n_hashes=32, bands=8, threshold=0.5,
    )
    got_df = spark.read.parquet(out_dir)
    got = sorted(map(tuple, got_df.select("id_a", "id_b").collect()))
    assert got_df.select("_epoch").distinct().count() == 2

    # batch reference: per-batch runs unioned (a streamed doc is deduped
    # against the index and its OWN micro-batch, not later batches)
    want = []
    for m in (0, 4):
        batch = new_docs.filter(F.col("doc_id") % 8 == m)
        pairs, _, _ = dedup.minhash_lsh_dedup_incremental(
            batch, index_sigs, index_bands, "doc_id", "text",
            k=4, n_hashes=32, bands=8, threshold=0.5,
        )
        want += [tuple(r) for r in pairs.select("id_a", "id_b").collect()]
        release_persisted()
    assert got and got == sorted(want)

    # restart on the drained checkpoint: no new epochs, no new rows
    stream2 = (
        spark.readStream.schema(new_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    streaming.pipeline.stream_dedup_incremental(
        stream2, index_sigs, index_bands, out_dir, ckpt,
        k=4, n_hashes=32, bands=8, threshold=0.5,
    )
    assert sorted(
        map(tuple, spark.read.parquet(out_dir).select("id_a", "id_b").collect())
    ) == got


def test_stream_curation_gate_matches_batch(spark, tmp_path_factory):
    """The streaming quality gate (in-row integer fold) admits exactly
    the docs the batch classifier + hash sample would keep."""
    from duckdb_dbt_finance_warehouse_spark.operators import sampling, text

    d = str(tmp_path_factory.mktemp("docs_stream"))
    shutil.copy(os.path.join(SF, "documents.parquet"), os.path.join(d, "part-0.parquet"))
    docs = load_testdata(spark, SF, "documents")["documents"]

    stream = spark.readStream.schema(docs.schema).parquet(d)
    gated = streaming.pipeline.stream_curation_gate(
        stream, threshold=0.0, sample_fraction=0.8
    )
    got = _mem(spark, gated, "curation_gate")

    batch = (
        text.quality_classifier(docs, "doc_id", "text")
        .filter("keep")
        .join(sampling.hash_sample(docs, "doc_id", 0.8), "doc_id")
    )
    got_rows = {
        r["doc_id"]: (r["n_tokens"], r["w_sum"], r["quality_logit"], r["sample_u"])
        for r in got.collect()
    }
    batch_rows = {
        r["doc_id"]: (r["n_tokens"], r["w_sum"], r["quality_logit"], r["sample_u"])
        for r in batch.collect()
    }
    assert got_rows == batch_rows
    assert len(got_rows) > 0


def test_stream_funnel_matches_batch(spark, tmp_path_factory):
    """Events arrive across two files in SHUFFLED order; the published
    funnel snapshot must equal the batch funnel over all events."""
    import shutil
    from datetime import datetime

    from duckdb_dbt_finance_warehouse_spark.operators.sessionize import funnel
    from duckdb_dbt_finance_warehouse_spark.streaming.pipeline import stream_funnel

    base = tmp_path_factory.mktemp("sfunnel")
    src = str(base / "src")
    ts = lambda d, h=0: datetime(2024, 1, d, h)
    rows = [
        (1, ts(1), "view"), (1, ts(2), "click"), (1, ts(3), "purchase"),
        (2, ts(2), "click"), (2, ts(3), "purchase"), (2, ts(1), "view"),
        (3, ts(5), "view"), (3, ts(6), "click"),
        (4, ts(1), "error"), (4, ts(2), "view"),
    ]
    schema = "user_id long, ts timestamp, event_type string"
    all_df = spark.createDataFrame(rows, schema)
    # file 1 carries the LATER events; file 2 back-fills earlier ones
    spark.createDataFrame(rows[:4], schema).write.mode("overwrite").parquet(
        src + "/f1.parquet"
    )
    spark.createDataFrame(rows[4:], schema).write.mode("append").parquet(
        src + "/f1.parquet"
    )
    stream = spark.readStream.schema(schema).parquet(src + "/f1.parquet")
    store, out, ckpt = (str(base / p) for p in ("store", "out", "ckpt"))
    stream_funnel(stream, store, out, ckpt)

    want = {
        r["user_id"]: r for r in funnel(all_df, ["view", "click", "purchase"]).collect()
    }
    got = {r["user_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].asDict() == want[k].asDict()
    shutil.rmtree(str(base), ignore_errors=True)


def test_stream_anomaly_matches_batch_across_batch_split(spark, tmp_path_factory):
    """Split the event stream into two files at a time boundary; the
    stateful streaming detector must emit exactly the batch operator's
    flags — state carries each user's trailing window across the
    micro-batch boundary."""
    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.operators.stats import (
        rolling_zscore_anomalies,
    )

    d = str(tmp_path_factory.mktemp("anomaly_stream"))
    events = load_testdata(spark, SF, "events")["events"].filter(
        F.col("user_id") < 50
    )
    cut = events.selectExpr("percentile(cast(ts as double), 0.5) p").collect()[0]["p"]
    events.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.parquet(
        os.path.join(d, "b1")
    )
    events.filter(F.col("ts").cast("double") > cut).coalesce(1).write.parquet(
        os.path.join(d, "b2")
    )
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "b*"))
    )
    got = _mem(
        spark, streaming.pipeline.stream_anomaly_flags(src), "anomaly"
    ).collect()
    want = rolling_zscore_anomalies(
        events, "user_id", ["ts", "event_id"], "value"
    ).collect()
    gk = {(r["user_id"], r["event_id"]): (r["n_trailing"], r["z"], r["is_anomaly"]) for r in got}
    wk = {(r["user_id"], r["event_id"]): (r["n_trailing"], r["z"], r["is_anomaly"]) for r in want}
    assert gk == wk and len(gk) > 0


def test_stream_ivf_pq_index_append_matches_rebuild(spark, tmp_path_factory):
    """The compressed-codes streaming twin: micro-batches encoded +
    appended under the FROZEN (ivf, pq) model pair must serve ADC probe
    results BIT-IDENTICAL to a full one-shot build over base+batches,
    and a restart on the drained checkpoint is a no-op. The pq model is
    the TRAINED one (r9: pq_train_codebooks) so the streaming path pins
    the production x_ann_ivf_pq_trained composition end to end — the
    trained model is frozen state exactly like the seeded one."""
    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.operators import pq, similarity
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 1)
    new = emb.filter(F.col("vec_id") % 4 == 1)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    ivf_model = similarity._ivf_model(
        base, "vec_id", "embedding", 16, None, "test_stream_pq"
    )
    pq_model = pq.pq_train_codebooks(base, n_subspaces=4, seed_mod=16, n_iter=2)

    src_dir = str(tmp_path_factory.mktemp("pq_stream"))
    stage = str(tmp_path_factory.mktemp("pq_stage"))
    for i, m in enumerate((1, 5)):
        d = os.path.join(stage, f"b{i}")
        new.filter(F.col("vec_id") % 8 == m).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        shutil.copy(os.path.join(d, part), os.path.join(src_dir, f"f{i}.parquet"))
    index_path = str(tmp_path_factory.mktemp("pq_index"))
    ckpt = str(tmp_path_factory.mktemp("pq_ckpt"))

    pq.ivf_pq_build(base, ivf_model, pq_model).withColumn(
        "_epoch", F.lit(-1)
    ).write.mode("overwrite").partitionBy("_epoch", "centroid_id").parquet(index_path)

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    streaming.pipeline.stream_ivf_pq_index_append(
        stream, ivf_model, pq_model, index_path, ckpt
    )

    idx = spark.read.parquet(index_path)
    assert idx.select("_epoch").distinct().count() == 3  # base + 2 epochs
    served = pq.ivf_pq_probe_lists_topk(
        idx.select("centroid_id", "cand_id", "codes"), probes,
        ivf_model, pq_model, k=5, n_probes=2,
    )
    got = sorted(map(tuple, served.collect()))
    rebuilt = pq.ivf_pq_topk(
        emb, probes, k=5, n_centroids_mod=16, n_probes=2,
        ivf_model=ivf_model, pq_model=pq_model,
    )
    assert got and got == sorted(map(tuple, rebuilt.collect()))

    # restart on the drained checkpoint: no new epochs, no new rows
    stream2 = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    streaming.pipeline.stream_ivf_pq_index_append(
        stream2, ivf_model, pq_model, index_path, ckpt
    )
    idx2 = spark.read.parquet(index_path)
    assert idx2.count() == idx.count()
    assert idx2.select("_epoch").distinct().count() == 3


def test_stream_ann_index_append_matches_rebuild(spark, tmp_path_factory):
    """Streaming ANN index maintenance: two micro-batches of new
    embeddings appended to the stored index under the frozen quantizer
    model must serve probe results BIT-IDENTICAL to a full rebuild over
    base+batches, and a restart on the drained checkpoint must be a
    no-op (exactly-once epochs via dynamic partition overwrite)."""
    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.operators import similarity
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 1)
    new = emb.filter(F.col("vec_id") % 4 == 1)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    model = similarity._ivf_model(base, "vec_id", "embedding", 16, None, "test_stream")

    src_dir = str(tmp_path_factory.mktemp("emb_stream"))
    stage = str(tmp_path_factory.mktemp("emb_stage"))
    for i, m in enumerate((1, 5)):
        d = os.path.join(stage, f"b{i}")
        new.filter(F.col("vec_id") % 8 == m).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        shutil.copy(os.path.join(d, part), os.path.join(src_dir, f"f{i}.parquet"))
    index_path = str(tmp_path_factory.mktemp("ann_index"))
    ckpt = str(tmp_path_factory.mktemp("ann_ckpt"))

    # the stored base index (the nightly-batch build)
    similarity.ivf_build_lists(base, model).withColumn(
        "_epoch", F.lit(-1)
    ).write.mode("overwrite").partitionBy("_epoch", "centroid_id").parquet(index_path)

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)  # two micro-batches
        .parquet(src_dir)
    )
    streaming.pipeline.stream_ann_index_append(stream, model, index_path, ckpt)

    idx = spark.read.parquet(index_path)
    assert idx.select("_epoch").distinct().count() == 3  # base + 2 epochs
    served = similarity.ivf_probe_lists_topk(
        idx.select("centroid_id", "cand_id", "_vec"), probes, model,
        k=5, n_probes=2,
    )
    got = sorted(map(tuple, served.collect()))
    rebuilt = similarity.ivf_ann_topk_probe_table(
        emb, probes, k=5, n_centroids_mod=16, n_probes=2
    )
    assert got and got == sorted(map(tuple, rebuilt.collect()))

    # restart on the drained checkpoint: no new epochs, no new rows
    stream2 = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    streaming.pipeline.stream_ann_index_append(stream2, model, index_path, ckpt)
    idx2 = spark.read.parquet(index_path)
    assert idx2.count() == idx.count()
    assert idx2.select("_epoch").distinct().count() == 3


def test_stream_url_dedup_matches_batch(spark, tmp_path_factory):
    """Continuous crawl-URL dedup against the standing canonical index
    (foreachBatch reusing the batch operator): streamed flags over two
    source files must equal the batch operator run per batch — and a
    second start on the same checkpoint must be a no-op (exactly-once,
    availableNow consumed all offsets)."""
    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.operators import url as url_ops

    docs = load_testdata(spark, SF, "documents")["documents"]
    with_url = docs.select(
        "doc_id", url_ops.synthesize_url(F.col("doc_id")).alias("url")
    )
    index_urls = (
        url_ops.url_canonical_dedup(
            docs.filter(F.col("doc_id") % 4 != 0),
            "doc_id",
            url_ops.synthesize_url(F.col("doc_id")),
        )
        .select("canonical_url")
        .distinct()
        .localCheckpoint()
    )
    new_docs = with_url.filter(F.col("doc_id") % 4 == 0)

    src_dir = str(tmp_path_factory.mktemp("url_stream"))
    stage = str(tmp_path_factory.mktemp("url_stage"))
    for i, m in enumerate((0, 4)):
        d = os.path.join(stage, f"b{i}")
        new_docs.filter(F.col("doc_id") % 8 == m).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        shutil.copy(os.path.join(d, part), os.path.join(src_dir, f"f{i}.parquet"))
    out_dir = str(tmp_path_factory.mktemp("url_out"))
    ckpt = str(tmp_path_factory.mktemp("url_ckpt"))

    stream = (
        spark.readStream.schema(new_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    streaming.pipeline.stream_url_dedup(stream, index_urls, out_dir, ckpt)
    got_df = spark.read.parquet(out_dir)
    assert got_df.select("_epoch").distinct().count() == 2
    got = sorted(
        map(tuple, got_df.select("doc_id", "canonical_url", "is_dup").collect())
    )

    want = []
    for m in (0, 4):
        batch = new_docs.filter(F.col("doc_id") % 8 == m)
        out = url_ops.url_canonical_incremental(
            batch, index_urls, "doc_id", F.col("url")
        )
        want += [
            tuple(r) for r in out.select("doc_id", "canonical_url", "is_dup").collect()
        ]
    assert got and got == sorted(want)
    assert any(r[2] for r in got)  # index hits actually fire

    # replay: same checkpoint, no new files -> no duplicate epochs
    stream2 = (
        spark.readStream.schema(new_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    streaming.pipeline.stream_url_dedup(stream2, index_urls, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == len(got)
