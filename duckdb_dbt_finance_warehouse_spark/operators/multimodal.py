"""Multimodal column plumbing (SURVEY §7.6).

Images/audio/video ride through the warehouse as opaque ``binary``
payloads + a typed metadata struct; decode/feature-extraction runs as
Arrow-batched ``mapInPandas`` so each Python worker sees columnar
batches, never row-at-a-time serde.

IMAGE DECODE IS REAL as of r9: ``synthesize_png_blobs`` builds valid
PNGs (all five scanline filters, CRC-checked chunks) from corpus bytes
and ``extract_image_features`` decodes them with the pure-stdlib codec
in ``operators/png`` — genuine pixels, not a byte-stat stand-in. As of
r10 RESIZE and VIDEO are real too: ``resize_image`` decodes,
nearest-neighbor resamples in pixel space, and re-encodes with the same
codec; ``synthesize_y4m_blobs``/``extract_video_frames`` round-trip
genuine YUV4MPEG2 streams (``operators/y4m`` — the raw-planar container
ffmpeg/mjpegtools read) with strided keyframe selection over decoded
frames. The byte-level ``frame_sample`` path remains as the
format-agnostic plumbing twin — at 100 TB the no-Python slicer is still
the right first pass when frames are fixed-offset slices.

The synthesize_* encoders run heavy per-row Python codec work, so their
inputs route through ``dedup.spread_input`` — a byte-compact documents
table is ONE 128 MB-rule split, which would pin the whole Arrow encode
pass on a single core (the r5 pathology).

Scale notes: payloads dominate row size — keep them OUT of shuffles.
Every extractor here is a mapPartitions-shaped narrow op (no shuffle);
downstream joins carry only (id, features).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def synthesize_blobs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a multimodal-shaped table from text rows: binary payload
    (utf-8 bytes as a stand-in for e.g. JPEG bytes) + metadata struct."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("blob/fake").alias("mime"),
            F.length(F.col(text_col)).alias("n_bytes"),
            F.lit(1).alias("version"),
        ).alias("media_meta"),
    )


def synthesize_png_blobs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 8,
    height: int = 8,
) -> DataFrame:
    """Build an image-typed multimodal table from text rows: each doc
    becomes a VALID ``width`` x ``height`` RGB PNG whose pixel samples
    are the doc's utf-8 bytes cycled to fill the raster (empty text ->
    black). Deterministic — same text, same bytes — so the decoded
    pixel statistics are replayable from the text by the DuckDB oracle
    (sample i == byte i % n). Encoding runs Arrow-batched over a
    ``spread_input``-guarded scan (per-row codec work must not sit on
    one byte-compact split); payloads are born in the encode task and
    never shuffled downstream. Raster fill and the five filter
    residuals are numpy over the whole batch stack
    (``png.encode_png_batch`` — bit-identical to the scalar codec);
    only the per-image deflate stays per-blob."""
    import numpy as np
    import pandas as pd

    from . import png
    from .dedup import spread_input

    n_px = width * height * 3

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cycle = np.arange(n_px)
        for pdf in batches:
            stack = np.zeros((len(pdf), n_px), dtype=np.uint8)
            for k, t in enumerate(pdf[text_col]):
                b = t.encode("utf-8")
                if b:
                    arr = np.frombuffer(b, dtype=np.uint8)
                    stack[k] = arr[cycle % len(arr)]
            payloads = png.encode_png_batch(stack, width, height, 3)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": payloads,
                    "media_meta": [
                        {"mime": "image/png", "n_bytes": len(p), "version": 1}
                        for p in payloads
                    ],
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "media_meta",
                T.StructType(
                    [
                        T.StructField("mime", T.StringType()),
                        T.StructField("n_bytes", T.IntegerType()),
                        T.StructField("version", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )
    return spread_input(df.select(F.col(id_col).alias(id_col), F.col(text_col))).mapInPandas(
        run, out_schema
    )


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_max", T.IntegerType()),
        T.StructField("distinct_px", T.IntegerType()),
    ]
)


def extract_image_features(blobs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL image feature extraction: decode each PNG payload
    (signature + CRC validation, full defiltering — operators/png) and
    emit true pixel statistics. px_mean is the one IEEE division of an
    exact integer sum by the sample count, so the stats replay exactly
    in the oracle. Raises on a corrupt or non-PNG payload — feature
    rows silently computed from garbage are worse than a loud failure.

    Decode and stats are numpy over same-shape stacks
    (``png._decode_png_groups``): defilter across the n_images axis,
    exact int64 pixel sums (the same one-IEEE-division mean as the
    scalar path), max by row, distinct via one sort pass."""
    import numpy as np
    import pandas as pd

    from . import png

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            n = len(pdf)
            width = np.empty(n, dtype=np.int64)
            height = np.empty(n, dtype=np.int64)
            channels = np.empty(n, dtype=np.int64)
            px_mean = np.empty(n, dtype=np.float64)
            px_max = np.empty(n, dtype=np.int64)
            distinct_px = np.empty(n, dtype=np.int64)
            for (w, h, c), idxs, pix in png._decode_png_groups(pdf["payload"]):
                flat = pix.reshape(len(idxs), h * w * c)
                ii = np.asarray(idxs)
                width[ii], height[ii], channels[ii] = w, h, c
                # exact integer sum then ONE IEEE division — same value
                # as the scalar sum(px)/len(px)
                px_mean[ii] = flat.sum(axis=1, dtype=np.int64) / flat.shape[1]
                px_max[ii] = flat.max(axis=1)
                s = np.sort(flat, axis=1)
                distinct_px[ii] = 1 + (s[:, 1:] != s[:, :-1]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": width,
                    "height": height,
                    "channels": channels,
                    "px_mean": px_mean,
                    "px_max": px_max,
                    "distinct_px": distinct_px,
                }
            )

    return blobs.select(id_col, "payload").mapInPandas(run, IMAGE_FEATURE_SCHEMA)


def synthesize_wav_blobs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_samples: int = 256,
    sample_rate: int = 8000,
) -> DataFrame:
    """Build an audio-typed multimodal table from text rows: each doc
    becomes a VALID 16-bit PCM mono WAV whose samples are the affine
    map ``byte*256 - 32768`` of the doc's utf-8 bytes cycled to
    ``n_samples`` (empty text -> silence). Deterministic and — because
    the codec round-trip is lossless — replayable from the text by the
    DuckDB oracle. Arrow-batched over a ``spread_input``-guarded scan;
    payloads never shuffled downstream."""
    import pandas as pd

    from . import wav
    from .dedup import spread_input

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                b = t.encode("utf-8")
                samples = [
                    (b[i % len(b)] * 256 - 32768) if b else 0
                    for i in range(n_samples)
                ]
                payloads.append(wav.encode_wav(samples, sample_rate))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": payloads,
                    "media_meta": [
                        {"mime": "audio/wav", "n_bytes": len(p), "version": 1}
                        for p in payloads
                    ],
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "media_meta",
                T.StructType(
                    [
                        T.StructField("mime", T.StringType()),
                        T.StructField("n_bytes", T.IntegerType()),
                        T.StructField("version", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )
    return spread_input(df.select(F.col(id_col).alias(id_col), F.col(text_col))).mapInPandas(
        run, out_schema
    )


def synthesize_y4m_blobs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 8,
    height: int = 8,
    n_frames: int = 4,
) -> DataFrame:
    """Build a video-typed multimodal table from text rows: each doc
    becomes a VALID ``n_frames``-frame mono YUV4MPEG2 stream whose Y
    samples are the doc's utf-8 bytes cycled across the whole stream
    (frame f, sample i reads byte (f*w*h + i) % n; empty text ->
    black). Deterministic and — because the container is raw planar —
    losslessly replayable from the text by the DuckDB oracle.
    Arrow-batched over a ``spread_input``-guarded scan; payloads never
    shuffled downstream."""
    import pandas as pd

    from . import y4m
    from .dedup import spread_input

    fsz = width * height

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                b = t.encode("utf-8")
                frames = [
                    bytes(
                        b[(f * fsz + i) % len(b)] if b else 0 for i in range(fsz)
                    )
                    for f in range(n_frames)
                ]
                payloads.append(y4m.encode_y4m(frames, width, height, "mono"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": payloads,
                    "media_meta": [
                        {"mime": "video/x-yuv4mpeg", "n_bytes": len(p), "version": 1}
                        for p in payloads
                    ],
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "media_meta",
                T.StructType(
                    [
                        T.StructField("mime", T.StringType()),
                        T.StructField("n_bytes", T.IntegerType()),
                        T.StructField("version", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )
    return spread_input(df.select(F.col(id_col).alias(id_col), F.col(text_col))).mapInPandas(
        run, out_schema
    )


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("y_mean", T.DoubleType()),
        T.StructField("y_max", T.IntegerType()),
        T.StructField("distinct_y", T.IntegerType()),
    ]
)


def extract_video_frames(
    blobs: DataFrame, id_col: str = "doc_id", frame_stride: int = 2
) -> DataFrame:
    """REAL video keyframe extraction: decode each YUV4MPEG2 payload
    (magic + tagged-header parse, per-FRAME marker validation —
    operators/y4m), select every ``frame_stride``-th frame, and emit
    true per-frame luma statistics. One row per sampled frame; y_mean
    is the one IEEE division of an exact integer sum by the plane
    size, so the stats replay exactly in the oracle. A narrow Arrow
    stage (no shuffle) — payload bytes never leave the decode task;
    at 100 TB the downstream carries only (id, frame, stats). Raises
    on a corrupt or non-y4m payload."""
    import pandas as pd

    from . import y4m

    if frame_stride < 1:
        raise ValueError(
            f"extract_video_frames: frame_stride must be >= 1 (got {frame_stride})"
        )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "doc_id", "frame_idx", "width", "height",
                    "y_mean", "y_max", "distinct_y",
                )
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                w, h, cs, frames = y4m.decode_y4m(bytes(payload))
                n_y = w * h
                for f in range(0, len(frames), frame_stride):
                    y = frames[f][:n_y]  # luma plane leads in every C layout
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(f)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["y_mean"].append(sum(y) / n_y)
                    rows["y_max"].append(max(y))
                    rows["distinct_y"].append(len(set(y)))
            yield pd.DataFrame(rows)

    return blobs.select(id_col, "payload").mapInPandas(run, VIDEO_FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("amp_mean", T.DoubleType()),
        T.StructField("amp_max", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def extract_audio_features(blobs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL audio feature extraction: decode each WAV payload (RIFF
    chunk walk, PCM/16-bit contract validation — operators/wav) and
    emit true waveform statistics. amp_mean and rms are one IEEE
    division (+ one IEEE sqrt) over exact integer sums — sum(s²) stays
    far below 2^53 — so the stats replay exactly in the oracle. Raises
    on a corrupt or non-PCM payload."""
    import math

    import pandas as pd

    from . import wav

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("n_samples", "sample_rate", "amp_mean", "amp_max", "rms")}
            for payload in pdf["payload"]:
                rate, _ch, s = wav.decode_wav(bytes(payload))
                n = len(s)
                rows["n_samples"].append(n)
                rows["sample_rate"].append(rate)
                rows["amp_mean"].append(sum(s) / n)
                rows["amp_max"].append(max(s))
                rows["rms"].append(math.sqrt(sum(x * x for x in s) / n))
            yield pd.DataFrame({"doc_id": pdf[id_col], **rows})

    return blobs.select(id_col, "payload").mapInPandas(run, AUDIO_FEATURE_SCHEMA)


def frame_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    frame_chars: int = 64,
    stride: int = 48,
    max_frames: int = 4,
) -> DataFrame:
    """Deterministic frame sampling: slice each payload into up to
    ``max_frames`` overlapping frames (``frame_chars`` wide, ``stride``
    apart) and emit one row per frame with its byte length + md5
    fingerprint — the video/audio frame-sample plumbing (strided
    keyframe extraction) exercised end to end.

    Pure built-in expressions: sequence + substring + md5 all run in
    whole-stage codegen — a per-row explode with NO shuffle and no
    Python; payload bytes never leave the scan task. A real video
    decoder replaces the substring slicer with a mapInPandas stage
    (same output schema, same no-shuffle shape — see
    ``extract_image_features`` for that pattern); frames here are CHARACTER
    slices of the text stand-in payload because the DuckDB oracle has
    no BLOB substring — on the Spark side ``substring`` works on
    ``binary`` directly, so the production form is the same expression
    over the payload column."""
    if frame_chars < 1 or stride < 1 or max_frames < 1:
        # max_frames < 1 would make sequence(0, -1) run DESCENDING in
        # Spark ([0, -1]) while generate_series yields [] — bogus frames
        # instead of none; fail loudly like the sibling operators
        raise ValueError(
            "frame_sample: frame_chars, stride, max_frames must all be >= 1 "
            f"(got {frame_chars}, {stride}, {max_frames})"
        )
    n = F.length(F.col(content_col))
    frames = df.filter(n > 0).select(
        F.col(id_col),
        F.col(content_col),
        F.explode(
            F.expr(
                f"sequence(CAST(0 AS BIGINT), least(CAST({max_frames - 1} AS BIGINT),"
                f" CAST(floor((length({content_col}) - 1) / {stride}) AS BIGINT)))"
            )
        ).alias("frame_idx"),
    )
    slice_ = F.expr(f"substring({content_col}, CAST(1 + frame_idx * {stride} AS INT), {frame_chars})")
    return frames.select(
        id_col,
        "frame_idx",
        (F.lit(1) + F.col("frame_idx") * stride).cast("bigint").alias("frame_start"),
        F.length(F.encode(slice_, "utf-8")).cast("bigint").alias("frame_n_bytes"),
        F.md5(slice_).alias("frame_md5"),
    )


def resize_image(
    blobs: DataFrame,
    id_col: str = "doc_id",
    target_width: int = 4,
    target_height: int = 4,
) -> DataFrame:
    """REAL image resize: decode each PNG payload (signature + CRC
    validation, full defiltering — operators/png), nearest-neighbor
    resample in PIXEL space (source index per axis =
    ``(dst * src_dim) // dst_dim`` — the same strided selection a
    box-filterless ``PIL.Image.resize(..., NEAREST)`` computes), and
    re-encode with ``png.encode_png_batch``. Output mirrors the input
    (id, payload, media_meta) with the true re-encoded byte length and
    a bumped version — resized payloads re-enter every downstream blob
    operator (``extract_image_features``, ``frame_sample``) unchanged.

    One narrow Arrow stage, no shuffle; at 100 TB this is a pure map
    whose output raster is ``target_width*target_height/`` (w*h) of its
    input. Raises on corrupt payloads (CRC / filter violations) — a
    resize silently computed from garbage is worse than a loud failure.
    Because decode -> resample -> encode -> decode is lossless on the
    pixel raster, the resized image's pixel statistics are a pure
    function of the source pixels — which is what lets the DuckDB
    oracle replay the full pipeline from the source text."""
    import pandas as pd

    from . import png

    if target_width < 1 or target_height < 1:
        raise ValueError(
            "resize_image: target dims must be >= 1 "
            f"(got {target_width}x{target_height})"
        )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "media_meta",
                T.StructType(
                    [
                        T.StructField("mime", T.StringType()),
                        T.StructField("n_bytes", T.IntegerType()),
                        T.StructField("version", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            payloads = [None] * len(pdf)
            versions = [int(m["version"]) for m in pdf["media_meta"]]
            # decode + gather + re-encode per same-shape stack: the
            # nearest-neighbor resample is one fancy-index over the
            # (n, h, w*c) pixel stack — src row (y*h)//th, src col
            # (x*w)//tw expanded over channels — and the re-encode's
            # filter math is one numpy pass (png.encode_png_batch)
            for (w, h, c), idxs, pix in png._decode_png_groups(pdf["payload"]):
                ys = (np.arange(target_height) * h) // target_height
                xs = (np.arange(target_width) * w) // target_width
                cols = (xs[:, None] * c + np.arange(c)[None, :]).reshape(-1)
                resized = pix[:, ys][:, :, cols].reshape(
                    len(idxs), target_height * target_width * c
                )
                for k, blob in enumerate(
                    png.encode_png_batch(resized, target_width, target_height, c)
                ):
                    payloads[idxs[k]] = blob
            metas = [
                {
                    "mime": "image/png",
                    "n_bytes": len(p),
                    "version": v + 1,
                }
                for p, v in zip(payloads, versions)
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads, "media_meta": metas}
            )

    return blobs.select(
        F.col(id_col).alias("doc_id"), "payload", "media_meta"
    ).mapInPandas(run, out_schema)
