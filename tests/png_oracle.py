"""Test-local oracle for ``operators/png``: the scalar, per-scanline PNG
codec. The package encodes and decodes whole stacks of images with
numpy; the tests pin those kernels bit-identical to this readable form
(same y % 5 filter cycle, same zlib level, same CRC validation)."""

from __future__ import annotations

import struct
import zlib

from duckdb_dbt_finance_warehouse_spark.operators import png


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9.4): nearest of left/up/up-left
    to the linear estimate a + b - c, ties in that order."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(pixels: bytes, width: int, height: int, channels: int = 3) -> bytes:
    """Encode raw 8-bit samples (row-major, interleaved channels) as a
    valid PNG. Row y is filtered with type y % 5."""
    stride = width * channels
    assert channels in png._COLOR_TYPE and len(pixels) == stride * height
    ihdr = struct.pack(">IIBBBBB", width, height, 8, png._COLOR_TYPE[channels], 0, 0, 0)
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        ft = y % 5
        raw.append(ft)
        for x in range(stride):
            a = line[x - channels] if x >= channels else 0
            c = prev[x - channels] if x >= channels else 0
            pred = (0, a, prev[x], (a + prev[x]) // 2, _paeth(a, prev[x], c))[ft]
            raw.append((line[x] - pred) & 0xFF)
        prev = line
    return (
        png.SIGNATURE
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + png._chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG to (width, height, channels, raw 8-bit samples),
    defiltering scanline by scanline after the package's chunk walk."""
    width, height, channels, raw = png._parse_png(data)
    stride = width * channels
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        if ft > 4:
            raise ValueError(f"png decode: unknown filter type {ft} on row {y}")
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        for x in range(stride):
            a = line[x - channels] if x >= channels else 0
            c = prev[x - channels] if x >= channels else 0
            pred = (0, a, prev[x], (a + prev[x]) // 2, _paeth(a, prev[x], c))[ft]
            line[x] = (line[x] + pred) & 0xFF
        out += line
        prev = bytes(line)
    return width, height, channels, bytes(out)


def decode_png_batch(blobs) -> list[tuple[int, int, int, bytes]]:
    """The package's grouped batch decoder, flattened back to one
    (width, height, channels, raw-bytes) tuple per input blob in input
    order — the shape ``decode_png`` returns."""
    out: list = [None] * len(blobs)
    for (w, h, ch), idxs, pix in png._decode_png_groups(blobs):
        flat = pix.reshape(len(idxs), h * w * ch)
        for k, i in enumerate(idxs):
            out[i] = (w, h, ch, flat[k].tobytes())
    return out
