"""Deterministic PNG encoder + pixel spec — TEST SCAFFOLDING for the real
pixel-decode path in :mod:`markmuse_spark.operators.multimodal`.

The engine's decoder (``decode_png_pixels``) is the product; this module
is the corpus side: it builds small PNGs from a pure ``(doc_id, text)``
pixel spec so that (a) the Spark query can synthesize payloads on
executors, and (b) the fixture oracle can compute expected features from
the PIXELS directly — never running any PNG code — which pins the
decoder end-to-end (spec pixels -> encoder -> bytes -> decoder -> pixels
must be the identity).

Encoder scope (mirrors the decoder's supported subset): bit depth 8,
color types gray(0) / RGB(2) / gray+alpha(4) / RGBA(6), non-interlaced,
one IDAT, per-scanline filter types 0-4 chosen by the caller — choosing
``(row % 5)`` exercises every PNG filter in one image.

Reference parity note: the reference materializes every image's real
bytes and ships them to storage/LLM (markmuse.py:385-526); this engine
decodes them instead (deterministically) for the feature column.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

_COLOR_TYPE_BY_CHANNELS = {1: 0, 2: 4, 3: 2, 4: 6}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(pixels, filters=None) -> bytes:
    """Serialize an (H, W) or (H, W, C) uint8 array as a PNG.

    ``filters``: per-scanline PNG filter type (0..4); int for all rows,
    list for per-row choice; default 0 (None filter) everywhere.  The
    filter bytes are computed EXACTLY per spec (sub/up/average/paeth on
    the raw scanlines), so a correct decoder must reverse them to
    recover the input array byte-for-byte."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    color_type = _COLOR_TYPE_BY_CHANNELS[ch]
    bpp = ch  # bit depth 8: bytes per pixel == channels
    stride = w * ch
    if filters is None:
        filters = [0] * h
    elif isinstance(filters, int):
        filters = [filters] * h

    raw = px.reshape(h, stride)
    out = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = raw[y].tobytes()
        ft = filters[y] % 5
        out.append(ft)
        if ft == 0:
            out += row
        elif ft == 1:  # Sub
            out += bytes(
                (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            out += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            out += bytes(
                (row[i] - (((row[i - bpp] if i >= bpp else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            out += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = row

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _chunk(b"IEND", b"")
    )


def png_pixel_spec(doc_id: int, text: str):
    """Deterministic pixel matrix for one document — the SHARED
    construction both the Spark query (which encodes it to PNG bytes on
    executors) and the fixture oracle (which computes expected features
    from it directly) derive from.  Pure function of ``(doc_id, text)``:

    * width  = 4 + doc_id % 13, height = 4 + doc_id % 11
    * channels cycle gray / RGB / RGBA by ``doc_id % 3``
    * bytes from an md5 counter stream over ``f"{doc_id}|{text}"``
    """
    import numpy as np

    w = 4 + doc_id % 13
    h = 4 + doc_id % 11
    ch = (1, 3, 4)[doc_id % 3]
    need = h * w * ch
    seed = f"{doc_id}|{text}".encode("utf-8")
    blocks = []
    counter = 0
    while sum(len(b) for b in blocks) < need:
        blocks.append(hashlib.md5(seed + counter.to_bytes(4, "big")).digest())
        counter += 1
    buf = b"".join(blocks)[:need]
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, ch)


def spec_filters(doc_id: int, height: int) -> list[int]:
    """Per-row filter choice for the spec image: ``(doc_id + row) % 5``
    walks through every PNG filter type across the corpus."""
    return [(doc_id + r) % 5 for r in range(height)]
