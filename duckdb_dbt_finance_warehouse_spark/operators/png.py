"""Pure-stdlib PNG codec (SURVEY §7.6 multimodal — the REAL decode).

The container has no PIL/libpng, but the PNG format itself needs only
``zlib`` + the spec: chunked layout with CRC-32, per-scanline filter
bytes, and the five defilter predictors (None/Sub/Up/Average/Paeth).
This module implements both directions for 8-bit non-interlaced
greyscale/RGB/RGBA so the multimodal pipeline's decode step is a
genuine image decode, not a byte-stat stand-in:

- ``encode_png_batch`` deliberately cycles through ALL five filter
  types (row y uses filter y % 5), so a round-trip exercises every
  defilter path — a decoder that faked any predictor could not
  reproduce the pixels.
- ``_decode_png_groups`` validates the signature and every chunk CRC,
  merges IDAT chunks, inflates, and defilters.

At corpus scale the Arrow kernels decode/encode tens of thousands of
thumbnails per batch, and per-PIXEL Python dominated the resize entry
(r10 VERDICT task 5: sf0.1 0.20 -> 0.75 s). Both directions therefore
vectorize the filter arithmetic with numpy ACROSS the whole stack of
same-shaped images (per-row numpy would LOSE on 24-byte scanlines — the
win is the n_images axis). The tests pin both bit-identical to a
scalar per-scanline codec (same y%5 filter cycle, same zlib level,
same CRC validation).
"""

from __future__ import annotations

import struct
import zlib

SIGNATURE = b"\x89PNG\r\n\x1a\n"

_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> PNG color type
_CHANNELS = {0: 1, 2: 3, 6: 4}


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _parse_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Chunk walk: validate signature and every CRC, return (width,
    height, channels, inflated filtered stream)."""
    if data[:8] != SIGNATURE:
        raise ValueError("png decode: bad signature — not a PNG")
    pos = 8
    idat = bytearray()
    width = height = channels = None
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"png decode: CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
                raise NotImplementedError(
                    "png decode: only 8-bit non-interlaced PNGs are supported "
                    f"(depth={depth}, interlace={interlace})"
                )
            if color not in _CHANNELS:
                raise NotImplementedError(f"png decode: color type {color}")
            channels = _CHANNELS[color]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("png decode: missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("png decode: inflated size does not match dimensions")
    return width, height, channels, raw


def encode_png_batch(rasters, width: int, height: int, channels: int = 3):
    """Encode a stack of same-shaped rasters (an iterable of
    ``width*height*channels`` byte strings, or an equally-shaped uint8
    ndarray) into a list of PNG blobs. Row y is filtered with type
    y % 5 so every predictor appears in the stream — deterministic
    output for identical input.

    All five filter residuals are computed as whole-stack 2D shifts
    (the encoder predicts from the RAW previous scanline, so there is
    no sequential dependency anywhere) — one numpy pass regardless of
    image count; only the per-image zlib deflate (C) and 3-chunk
    assembly remain per-blob Python."""
    import numpy as np

    if channels not in _COLOR_TYPE:
        raise ValueError(f"png encode: channels must be 1, 3 or 4 (got {channels})")
    stride = width * channels
    if isinstance(rasters, np.ndarray):
        # validate as strictly as the bytes path: a mis-shaped stack
        # must not silently regroup pixels across images, and a
        # non-uint8 dtype must not silently truncate-cast
        if rasters.dtype != np.uint8:
            raise ValueError(
                f"png encode: raster stack must be uint8 (got {rasters.dtype})"
            )
        if rasters.ndim not in (2, 3) or (
            rasters.ndim == 2 and rasters.shape[1] != stride * height
        ) or (
            rasters.ndim == 3 and rasters.shape[1:] != (height, stride)
        ):
            raise ValueError(
                f"png encode: raster stack shape {rasters.shape} does not "
                f"match (n, {height * stride}) or (n, {height}, {stride}) "
                f"for {width}x{height}x{channels}"
            )
        img = np.ascontiguousarray(rasters).reshape(-1, height, stride)
    else:
        rasters = [bytes(r) for r in rasters]
        # validate PER RASTER, exactly like the scalar codec — a
        # divisibility check on the concatenation would let two wrong
        # lengths that happen to sum to a multiple silently shift
        # every later image's pixels (r11 review)
        for r in rasters:
            if len(r) != stride * height:
                raise ValueError(
                    f"png encode: got {len(r)} bytes for "
                    f"{width}x{height}x{channels}"
                )
        img = np.frombuffer(b"".join(rasters), dtype=np.uint8).reshape(
            -1, height, stride
        )
    n = img.shape[0]
    if n == 0:
        return []
    left = np.zeros_like(img)
    left[:, :, channels:] = img[:, :, :-channels]
    up = np.zeros_like(img)
    up[:, 1:, :] = img[:, :-1, :]
    upleft = np.zeros_like(img)
    upleft[:, 1:, channels:] = img[:, :-1, :-channels]
    a = left.astype(np.int16)
    b = up.astype(np.int16)
    c = upleft.astype(np.int16)
    # uint8 subtraction wraps — exactly the scalar codec's & 0xFF
    res_sub = img - left
    res_up = img - up
    res_avg = (img.astype(np.int16) - ((a + b) >> 1)).astype(np.uint8)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    res_pae = (img.astype(np.int16) - pred).astype(np.uint8)
    residuals = (img, res_sub, res_up, res_avg, res_pae)
    filtered = np.empty((n, height, stride + 1), dtype=np.uint8)
    for y in range(height):
        ft = y % 5
        filtered[:, y, 0] = ft
        filtered[:, y, 1:] = residuals[ft][:, y, :]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0)
    head = SIGNATURE + _chunk(b"IHDR", ihdr)
    tail = _chunk(b"IEND", b"")
    return [
        head + _chunk(b"IDAT", zlib.compress(filtered[i].tobytes(), 6)) + tail
        for i in range(n)
    ]


def _decode_png_groups(blobs):
    """Batch-decode core: returns a list of
    ``((width, height, channels), input_indices, pixel_stack)`` where
    ``pixel_stack`` is a uint8 ndarray of shape (n, height,
    width*channels) — one entry per distinct shape, indices mapping
    stack rows back to input order, so kernels that keep computing in
    numpy (feature stats, resample) skip a per-image ``tobytes``.

    Each same-shape group defilters as ONE numpy stack: Up is a pure 2D
    add, Sub a per-lane cumulative sum, and Average/Paeth walk the
    columns sequentially (their in-row data dependency) with each step
    vectorized across the n_images axis. A row whose filter byte
    differs across the group splits into per-filter sub-stacks, so
    mixed-provenance batches stay correct."""
    import numpy as np

    parsed = [_parse_png(bytes(d)) for d in blobs]
    groups: dict[tuple[int, int, int], list[int]] = {}
    for i, (w, h, ch, _) in enumerate(parsed):
        groups.setdefault((w, h, ch), []).append(i)
    result = []
    for (w, h, ch), idxs in groups.items():
        stride = w * ch
        raw = np.frombuffer(
            b"".join(parsed[i][3] for i in idxs), dtype=np.uint8
        ).reshape(len(idxs), h, stride + 1)
        fts = raw[:, :, 0]
        bad = ~np.isin(fts, (0, 1, 2, 3, 4))
        if bad.any():
            k, y = np.argwhere(bad)[0]
            raise ValueError(
                f"png decode: unknown filter type {fts[k, y]} on row {y}"
            )
        pix = np.empty((len(idxs), h, stride), dtype=np.uint8)
        prev = np.zeros((len(idxs), stride), dtype=np.uint8)
        for y in range(h):
            line = raw[:, y, 1:].copy()
            for v in np.unique(fts[:, y]):
                m = fts[:, y] == v
                if v == 1:
                    # Sub: out[x] = res[x] + out[x-ch] — a per-lane
                    # prefix sum mod 256
                    lanes = line[m].reshape(m.sum(), w, ch)
                    line[m] = (
                        np.cumsum(lanes, axis=1, dtype=np.int64) % 256
                    ).astype(np.uint8).reshape(m.sum(), stride)
                elif v == 2:
                    line[m] += prev[m]
                elif v == 3:
                    sub, pr = line[m], prev[m]
                    for x in range(stride):
                        a = sub[:, x - ch] if x >= ch else np.zeros(
                            m.sum(), dtype=np.uint8
                        )
                        sub[:, x] += (
                            (a.astype(np.int16) + pr[:, x]) >> 1
                        ).astype(np.uint8)
                    line[m] = sub
                elif v == 4:
                    sub, pr = line[m], prev[m]
                    prl = np.zeros_like(pr)
                    prl[:, ch:] = pr[:, :-ch]
                    for x in range(stride):
                        a = (
                            sub[:, x - ch].astype(np.int16)
                            if x >= ch
                            else np.zeros(m.sum(), dtype=np.int16)
                        )
                        b = pr[:, x].astype(np.int16)
                        c = prl[:, x].astype(np.int16)
                        p = a + b - c
                        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                        pred = np.where(
                            (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                        )
                        sub[:, x] += pred.astype(np.uint8)
                    line[m] = sub
            pix[:, y, :] = line
            prev = line
        result.append(((w, h, ch), idxs, pix))
    return result
