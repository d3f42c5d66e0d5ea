"""Sequence packing — the concat-and-chunk step a training-data pipeline
runs between curation and the trainer: documents are concatenated in a
deterministic order and sliced into fixed token-budget sequences, so a
doc may span two (or more) sequences and a sequence usually carries
pieces of several docs.

Why this shape (vs first-fit bin packing): greedy bin packing is
inherently stateful (each placement depends on every earlier bin's
remaining space) and so cannot be expressed as a window — while
concat-and-chunk is exactly ONE prefix-sum per stream, which both
Spark (running-sum window) and the DuckDB oracle replay bit-for-bit.
It is also what large LM data pipelines actually do: concatenate and
cut at the context length, tracking piece boundaries.

Scale story: packing is sequential WITHIN a stream, so the corpus is
first split into ``n_streams`` independent streams by ``id % n_streams``
and each stream packs in parallel — one shuffle (the window's hash
partitioning on ``stream``), no global window. At 100 TB you raise
``n_streams`` to a multiple of the cluster's task slots; each stream's
running sum is a single ordered scan of that stream's (id, token_count)
rows — KBs per doc, not the doc bytes themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_starts, words


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int = 512,
    n_streams: int = 16,
) -> DataFrame:
    """Assign every document to its packed sequence(s).

    Output, one row per (doc, sequence) piece:
      stream       : packing stream = id % n_streams
      seq_id       : sequence index within the stream (0-based)
      <id_col>     : the document
      piece_tokens : tokens of this doc landing in this sequence
      is_head      : True on the doc's first piece (tail pieces are the
                     spill-over of a doc cut at a sequence boundary)

    Zero-token docs are dropped (nothing to pack). The running sum is
    over LONG token counts — order-independent and exact, no float
    accumulation anywhere.
    """
    if budget <= 0:
        raise ValueError(f"pack_sequences: budget must be positive, got {budget}")
    s = df.filter(F.col(token_col) > 0).select(
        F.col(id_col),
        F.col(token_col).cast("long").alias("_tok"),
        F.pmod(F.col(id_col), F.lit(n_streams)).alias("stream"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = (
        s.withColumn("_cum_end", F.sum("_tok").over(w))
        .withColumn("_start", F.col("_cum_end") - F.col("_tok"))
    )
    # chunks this doc touches: floor(start/B) .. floor((end-1)/B)
    e = c.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                F.expr(f"_start div {budget}"), F.expr(f"(_cum_end - 1) div {budget}")
            )
        ),
    )
    lo = F.greatest(F.col("_start"), F.col("seq_id") * budget)
    hi = F.least(F.col("_cum_end"), (F.col("seq_id") + 1) * budget)
    return e.select(
        "stream",
        "seq_id",
        id_col,
        (hi - lo).alias("piece_tokens"),
        (F.col("_start") >= F.col("seq_id") * budget).alias("is_head"),
    )


def pack_efficiency(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int = 512,
    n_streams: int = 16,
) -> DataFrame:
    """Per-stream packing summary over ``pack_sequences``: sequence
    count, docs packed, split-doc count, and the fill rate of the
    FULL sequences (every sequence but a stream's last is exactly
    ``budget`` tokens by construction — the interesting number is the
    tail waste). One extra aggregation over the piece rows."""
    pieces = pack_sequences(df, id_col, token_col, budget, n_streams)
    per_seq = pieces.groupBy("stream", "seq_id").agg(
        F.sum("piece_tokens").alias("_seq_tokens"),
        F.count("*").alias("_n_pieces"),
    )
    return per_seq.groupBy("stream").agg(
        F.count("*").alias("n_sequences"),
        F.sum("_n_pieces").alias("n_pieces"),
        F.sum("_seq_tokens").alias("total_tokens"),
        # fill = tokens / (sequences * budget); tail sequence may be short
        F.round(
            F.sum("_seq_tokens") / (F.count("*") * F.lit(budget)).cast("double"), 6
        ).alias("fill_rate"),
    )


def chunk_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window chunking with overlap — the RAG/long-context prep
    step that splits documents into fixed-size token windows where
    consecutive chunks share ``overlap`` tokens (so no span is ever cut
    without context). Chunk starts (``dedup.word_starts``) are 1,
    1+stride, ... up to greatest(n_tokens - overlap, 1) with stride =
    chunk - overlap: the final chunk always reaches the document end, a
    document shorter than one chunk yields exactly one chunk, and no
    start begins in the pure-overlap tail.

    Per-row compute only (split + sequence + slice, all codegen'd):
    zero shuffles at any corpus size — chunk rows inherit the scan's
    partitioning. Exact and oracle-replayable."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"chunk_overlap: overlap ({overlap}) must be < chunk_tokens"
            f" ({chunk_tokens})"
        )
    starts = word_starts("_t", chunk_tokens, chunk_tokens - overlap)
    return (
        df.select(F.col(id_col), words(text_col).alias("_t"))
        .select(
            id_col,
            "_t",
            F.size("_t").alias("n_tokens"),
            F.posexplode(starts).alias("chunk_idx", "start_tok"),
        )
        .select(
            id_col,
            "n_tokens",
            "chunk_idx",
            "start_tok",
            F.expr(f"size(slice(_t, start_tok, {chunk_tokens}))").alias(
                "chunk_len"
            ),
            F.expr(
                f"concat_ws(' ', slice(_t, start_tok, {chunk_tokens}))"
            ).alias("chunk_text"),
        )
    )


LENGTH_BUCKET_CAPS: tuple[int, ...] = (
    16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768,
)


def length_bucket_stats(
    df: DataFrame,
    id_col: str,
    token_col: str,
    batch_size: int = 32,
) -> DataFrame:
    """Length-bucketed batching profile — the pad-to-bucket alternative
    to concat-and-chunk packing (``pack_sequences``): docs are grouped
    into power-of-two length buckets, every doc in a bucket pads to the
    bucket cap, and batches of ``batch_size`` fill from each bucket.
    The output says what padding actually costs per bucket (and in
    total via a simple rollup) BEFORE anyone launches a training run.

    The bucket is picked by a literal CASE chain over
    ``LENGTH_BUCKET_CAPS`` (integer compares only — no log2, whose
    float edge behavior at exact powers of two differs per libm), docs
    longer than the top cap land in the top bucket (flagged), and every
    statistic is a bigint sum with one final double division — fully
    oracle-replayable. Shape: one scan + one bucket-keyed agg (a dozen
    groups, map-side combined)."""
    if batch_size <= 0:
        raise ValueError(f"length_bucket_stats: batch_size must be positive, got {batch_size}")
    n = F.col(token_col).cast("long")
    top = LENGTH_BUCKET_CAPS[-1]
    cap = F.lit(top)
    for c in reversed(LENGTH_BUCKET_CAPS):
        cap = F.when(n <= c, F.lit(c)).otherwise(cap)
    b = df.filter(n > 0).select(
        n.alias("_n"),
        cap.alias("bucket_cap"),
        (n > top).alias("_overflow"),
    )
    padded = F.col("bucket_cap") * F.count("*")
    return (
        b.groupBy("bucket_cap")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n").alias("sum_tokens"),
            # overflow docs truncate to the cap — kept_tokens is what
            # survives, so fill_rate stays a true <=1 utilization
            F.sum(F.least(F.col("_n"), F.col("bucket_cap"))).alias("kept_tokens"),
            F.count_if(F.col("_overflow")).alias("n_overflow"),
            padded.alias("padded_tokens"),
            F.expr(f"(count(*) + {batch_size - 1}) div {batch_size}").alias("n_batches"),
        )
        .select(
            "bucket_cap",
            "n_docs",
            "sum_tokens",
            "kept_tokens",
            "n_overflow",
            "padded_tokens",
            "n_batches",
            F.round(
                F.col("kept_tokens").cast("double") / F.col("padded_tokens"), 6
            ).alias("fill_rate"),
        )
    )
