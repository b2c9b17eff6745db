"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with real Spark-side plumbing and stubbed heavy decode.

What is REAL here (and tested): schemas, batch shapes, Arrow transfer of
binary columns, magic-byte container sniffing, PNG/JPEG/GIF header parsing
(pure byte-stream, no image libs), deterministic feature extraction, frame-
sample plumbing.  What is STUBBED (this container ships no image/audio
codecs): pixel decode — ``decode_image_pixels`` raises
``NotImplementedError`` unless PIL is importable, and
``extract_image_features`` substitutes a clearly-marked deterministic fake
(md5-seeded vector) so downstream similarity plumbing can be exercised
end-to-end.

Reference parity note: the reference treats images exactly this way — an
opaque base64/bytes payload with an id, normalized and stored, never
decoded (``markmuse.py:385-460``); captioning is delegated to an external
LLM (excluded from the deterministic engine, SURVEY §7).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Any, Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_DDL = (
    "format string, width int, height int, duration_ms bigint, "
    "n_bytes long, sha1 string"
)

try:  # pragma: no cover - not present in this container
    from PIL import Image as _PIL_Image  # type: ignore
except Exception:  # noqa: BLE001
    _PIL_Image = None


def sniff_format(data: Optional[bytes]) -> Optional[str]:
    """Container sniffing by magic bytes (pure, no libs)."""
    if not data or len(data) < 12:
        return None
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[4:8] == b"ftyp":
        return "mp4"
    return None


def parse_dimensions(data: bytes, fmt: Optional[str]) -> tuple[Optional[int], Optional[int]]:
    """Width/height from container headers (PNG IHDR, JPEG SOFn, GIF LSD,
    WEBP VP8/VP8L/VP8X — all three WebP bitstream flavors, pure
    byte-stream parses like the rest)."""
    try:
        if fmt == "png" and len(data) >= 24 and data[12:16] == b"IHDR":
            w, h = struct.unpack(">II", data[16:24])
            return int(w), int(h)
        if fmt == "gif" and len(data) >= 10:
            w, h = struct.unpack("<HH", data[6:10])
            return int(w), int(h)
        if fmt == "webp" and len(data) >= 25:
            four = data[12:16]
            body = data[20:]
            # per-flavor length gates: a truncated header must yield
            # (None, None), never a short-slice misread
            if four == b"VP8X" and len(body) >= 10:  # 24-bit LE canvas - 1
                w = int.from_bytes(body[4:7], "little") + 1
                h = int.from_bytes(body[7:10], "little") + 1
                return w, h
            if four == b"VP8L" and len(body) >= 5 and body[0] == 0x2F:
                bits = int.from_bytes(body[1:5], "little")  # 14-bit pack
                return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
            if four == b"VP8 " and len(body) >= 10 and body[3:6] == b"\x9d\x01\x2a":
                w = int.from_bytes(body[6:8], "little") & 0x3FFF
                h = int.from_bytes(body[8:10], "little") & 0x3FFF
                return w, h
        if fmt == "jpeg":
            i = 2
            while i + 9 < len(data):
                if data[i] != 0xFF:
                    i += 1
                    continue
                marker = data[i + 1]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                    return int(w), int(h)
                seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
                i += 2 + seg_len
    except Exception:
        pass
    return None, None


def parse_duration_ms(data: bytes, fmt: Optional[str]) -> Optional[int]:
    """Duration in milliseconds from audio/video container headers —
    WAV (RIFF chunk walk: ``fmt ``'s byte rate over ``data``'s declared
    size) and MP4 (box walk to ``moov``/``mvhd``: declared duration over
    the movie timescale, version 0 and 1 layouts).  Pure byte-stream
    parses; floor division keeps the value integral and engine-
    independent.  None for images, truncated headers, or zero rates."""
    try:
        if fmt == "wav":
            byte_rate = data_size = None
            i = 12
            while i + 8 <= len(data):
                four = data[i : i + 4]
                csize = struct.unpack("<I", data[i + 4 : i + 8])[0]
                # a fmt chunk shorter than the 16-byte PCM layout cannot
                # contain a byte rate — reading past its declared end
                # would unpack the NEXT chunk's header as a rate
                if four == b"fmt " and csize >= 16 and i + 20 <= len(data):
                    byte_rate = struct.unpack("<I", data[i + 16 : i + 20])[0]
                elif four == b"data":
                    data_size = csize
                if byte_rate is not None and data_size is not None:
                    break
                i += 8 + csize + (csize & 1)  # chunks pad to even
            if byte_rate and data_size is not None:
                return data_size * 1000 // byte_rate
        if fmt == "mp4":
            i = 0
            while i + 8 <= len(data):  # top-level box walk
                size = struct.unpack(">I", data[i : i + 4])[0]
                if data[i + 4 : i + 8] == b"moov":
                    j = i + 8
                    end = min(i + size, len(data))
                    while j + 8 <= end:  # moov children
                        csize = struct.unpack(">I", data[j : j + 4])[0]
                        if data[j + 4 : j + 8] == b"mvhd" and j + 9 <= end:
                            v = data[j + 8]
                            if v == 1 and j + 40 <= end:
                                ts = struct.unpack(">I", data[j + 28 : j + 32])[0]
                                dur = struct.unpack(">Q", data[j + 32 : j + 40])[0]
                            elif j + 28 <= end:
                                ts = struct.unpack(">I", data[j + 20 : j + 24])[0]
                                dur = struct.unpack(">I", data[j + 24 : j + 28])[0]
                            else:
                                return None
                            return dur * 1000 // ts if ts else None
                        if csize < 8:
                            break
                        j += csize
                if size < 8:
                    break
                i += size
    except Exception:
        pass
    return None


def image_metadata(frames: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Typed metadata struct per binary payload (mapInArrow; bytes never
    leave the executor, output is a small struct)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("_id", pa.string()),
            ("format", pa.string()),
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("duration_ms", pa.int64()),
            ("n_bytes", pa.int64()),
            ("sha1", pa.string()),
        ]
    )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        from markmuse_spark.operators.extract import _binary_views

        for batch in batches:
            ids = batch.column(0).to_pylist()
            blobs = _binary_views(batch.column(1))  # zero-copy, like extract
            rows: dict[str, list[Any]] = {k: [] for k in out_schema.names}
            for i, data in zip(ids, blobs):
                fmt = sniff_format(data)
                w, h = parse_dimensions(data, fmt) if data else (None, None)
                rows["_id"].append(str(i))
                rows["format"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_ms"].append(
                    parse_duration_ms(data, fmt) if data else None
                )
                rows["n_bytes"].append(len(data) if data else 0)
                rows["sha1"].append(
                    hashlib.sha1(data).hexdigest() if data else None
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows[n], type=out_schema.field(n).type) for n in out_schema.names],
                schema=out_schema,
            )

    return frames.select(
        F.col(id_col).cast("string"), F.col(bin_col)
    ).mapInArrow(run, "_id string, " + IMAGE_META_DDL)


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png_pixels(data):
    """REAL PNG pixel decode from raw bytes — no image library: chunk
    walk, concatenated-IDAT ``zlib.decompress``, per-scanline reversal
    of all five PNG filters (None/Sub/Up/Average/Paeth), palette
    expansion.  Returns an (H, W, C) uint8 numpy array.

    Supported subset (the dominant web-corpus forms): bit depth 8,
    color types gray(0) / RGB(2) / palette(3) / gray+alpha(4) / RGBA(6),
    non-interlaced.  Raises ``ValueError`` on anything else (16-bit,
    Adam7) and on corrupt structure — callers decide the fallback.

    Filter reversal shapes: None is a copy; Sub is a per-byte-lane
    cumulative sum (mod-256 addition commutes with the final mask, so
    ``cumsum`` vectorizes it); Up is one vector add against the prior
    scanline; Average/Paeth carry an in-row dependency and run as byte
    loops — fine for web-corpus thumbnails, and the PIL seam
    (:data:`_PIL_Image`) remains the production path for megapixel
    decode throughput."""
    import numpy as np

    from markmuse_spark.kernel.pdf_extract import _png_paeth_pred

    data = bytes(data)
    if len(data) < 33 or data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    palette = None
    idats = []
    while pos + 8 <= len(data):
        (clen,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("truncated chunk")
        if tag == b"IHDR":
            if len(body) < 13:
                raise ValueError("short IHDR")
            ihdr = struct.unpack(">IIBBBBB", body[:13])
        elif tag == b"PLTE":
            palette = np.frombuffer(body[: 3 * (clen // 3)], dtype=np.uint8).reshape(
                -1, 3
            )
        elif tag == b"IDAT":
            idats.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + clen  # len + tag + data + crc
    if ihdr is None or not idats:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color_type}, "
            f"interlace={interlace})"
        )
    if w == 0 or h == 0:
        raise ValueError("zero-dimension PNG")
    ch = _PNG_CHANNELS[color_type]
    stride = w * ch
    try:
        raw = zlib.decompress(b"".join(idats))
    except zlib.error as exc:
        raise ValueError(f"bad IDAT stream: {exc}") from exc
    if len(raw) < h * (1 + stride):
        raise ValueError("IDAT shorter than declared geometry")

    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = ch
    for y in range(h):
        base = y * (1 + stride)
        ft = raw[base]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1)
        if ft == 0:
            rec = row.copy()
        elif ft == 1:  # Sub: per-lane mod-256 cumsum
            rec = (
                row.reshape(w, bpp).cumsum(axis=0, dtype=np.uint64) & 0xFF
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            rec = row + prev  # uint8 wraparound == mod-256 add
        elif ft == 3:  # Average (in-row dependency: byte loop)
            rb = bytearray(stride)
            for i in range(stride):
                left = rb[i - bpp] if i >= bpp else 0
                rb[i] = (row[i] + ((left + int(prev[i])) >> 1)) & 0xFF
            rec = np.frombuffer(bytes(rb), dtype=np.uint8)
        elif ft == 4:  # Paeth (in-row dependency: byte loop)
            rb = bytearray(stride)
            for i in range(stride):
                left = rb[i - bpp] if i >= bpp else 0
                up = int(prev[i])
                ul = int(prev[i - bpp]) if i >= bpp else 0
                rb[i] = (row[i] + _png_paeth_pred(left, up, ul)) & 0xFF
            rec = np.frombuffer(bytes(rb), dtype=np.uint8)
        else:
            raise ValueError(f"bad filter type {ft}")
        out[y] = rec
        prev = rec

    px = out.reshape(h, w, ch)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette image without PLTE")
        idx = px[:, :, 0]
        if int(idx.max()) >= len(palette):
            raise ValueError("palette index out of range")
        px = palette[idx]
    return px


def decode_gif_pixels(data):
    """REAL GIF pixel decode from raw bytes — no image library: logical
    screen descriptor, global/local color table, extension-block skip,
    variable-width LZW (spec appendix F: LSB-first codes, clear/EOI,
    dictionary growth to 12 bits with clear-reset), palette expansion.
    Returns an (H, W, 3) uint8 numpy array for the FIRST image.

    Supported subset (the dominant web form): non-interlaced single
    frame with a color table.  Raises ``ValueError`` on interlaced
    images, missing tables and corrupt structure — callers decide the
    fallback.  GIF's LZW is lossless, so the decode is bit-exact
    against the encoder's input — the property the feature-fixture
    oracle relies on."""
    import numpy as np

    data = bytes(data)
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
        if len(gct) < 3 * n:
            raise ValueError("truncated global color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b0 == 0x2C:
            break
        elif b0 == 0x3B:
            raise ValueError("GIF trailer before any image")
        else:
            raise ValueError("unknown GIF block")
    else:
        raise ValueError("no image descriptor")
    if pos + 10 > len(data):
        raise ValueError("truncated image descriptor")
    w = int.from_bytes(data[pos + 5 : pos + 7], "little")
    h = int.from_bytes(data[pos + 7 : pos + 9], "little")
    iflags = data[pos + 9]
    pos += 10
    if iflags & 0x40:
        raise ValueError("interlaced GIF out of subset")
    table_src = gct
    if iflags & 0x80:  # local color table overrides
        n = 2 << (iflags & 0x07)
        lct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
        if len(lct) < 3 * n:
            raise ValueError("truncated local color table")
        table_src = lct.reshape(n, 3)
        pos += 3 * n
    if table_src is None:
        raise ValueError("GIF image without a color table")
    if not w or not h:
        raise ValueError("empty GIF image")
    min_code = data[pos]
    pos += 1
    if not 2 <= min_code <= 11:
        raise ValueError("bad LZW min code size")
    chunks = []
    while pos < len(data) and data[pos]:
        n = data[pos]
        chunks.append(data[pos + 1 : pos + 1 + n])
        pos += 1 + n
    stream = b"".join(chunks)

    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    bitbuf = bitcnt = 0
    prev: bytes | None = None
    need = h * w
    for byte in stream:
        bitbuf |= byte << bitcnt
        bitcnt += 8
        while bitcnt >= width:
            code = bitbuf & ((1 << width) - 1)
            bitbuf >>= width
            bitcnt -= width
            if code == clear:
                table = list(base)
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                bitcnt = 0
                bitbuf = 0
                break
            if prev is None:
                if code >= clear:
                    raise ValueError("bad LZW stream: first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("bad LZW stream: code beyond table")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= need:
                break
        if len(out) >= need:
            break
    if len(out) < need:
        raise ValueError("GIF pixel data short")
    idx = np.frombuffer(bytes(out[:need]), dtype=np.uint8)
    if int(idx.max()) >= len(table_src):
        raise ValueError("palette index out of range")
    return table_src[idx].reshape(h, w, 3)


def decode_image_pixels(data):
    """Pixel decode: PNG and GIF decode HERE from raw bytes (pure
    Python — :func:`decode_png_pixels` / :func:`decode_gif_pixels`);
    other containers need a codec this sandbox does not ship, so they
    route through the PIL seam and raise without it.  Returns an
    (H, W, C) uint8 numpy array either way."""
    fmt = sniff_format(bytes(data[:16]) if data else None)
    if fmt == "png":
        return decode_png_pixels(data)
    if fmt == "gif":
        return decode_gif_pixels(data)
    if _PIL_Image is None:
        raise NotImplementedError(
            "non-PNG pixel decode requires an image codec (PIL) not present "
            "in this container; install pillow on the cluster to enable"
        )
    import io

    import numpy as np

    return np.asarray(_PIL_Image.open(io.BytesIO(bytes(data))))


#: histogram bin edges for the feature vector's channel-0 bins (5 bins)
_FEAT_BINS = (52, 104, 156, 208)


def image_feature_vector(px) -> list:
    """The 16-float feature layout over a decoded (H, W, C) uint8 array:

    ``[w, h, c, mean_c0..3 (0-padded), std_c0..3 (0-padded),
    hist5_c0 fractions]``

    Every statistic is EXACT integer sums followed by a single float
    division (variance = ``(n*sumsq - s^2) / n^2``, one ``sqrt``), so
    any independent implementation of the same formulas is bit-identical
    — the property the fixture oracle exploits to verify the decoder
    without running it."""
    import numpy as np

    h, w, ch = px.shape
    n = h * w
    feats = [float(w), float(h), float(ch)]
    means, stds = [], []
    for c in range(4):
        if c < ch:
            lane = px[:, :, c]
            s = int(lane.sum(dtype=np.int64))
            sq = int((lane.astype(np.int64) ** 2).sum())
            means.append(s / n)
            stds.append(((n * sq - s * s) / (n * n)) ** 0.5)
        else:
            means.append(0.0)
            stds.append(0.0)
    feats += means + stds
    lane0 = px[:, :, 0]
    edges = (0,) + _FEAT_BINS + (256,)
    for lo, hi in zip(edges[:-1], edges[1:]):
        cnt = int(((lane0 >= lo) & (lane0 < hi)).sum())
        feats.append(cnt / n)
    return np.asarray(feats, dtype=np.float32).tolist()


def extract_image_features(
    frames: DataFrame, id_col: str, bin_col: str, dim: int = 16
) -> DataFrame:
    """Feature vector per image payload (``array<float>``).

    PNG and GIF payloads get REAL features — pure-Python pixel decode
    (:func:`decode_png_pixels` / :func:`decode_gif_pixels`, both
    LOSSLESS codecs) feeding the exact-arithmetic layout of
    :func:`image_feature_vector`.  One that fails to decode yields
    NULL (loud downstream, never a silently fake vector for a real
    container).  The remaining containers (JPEG — lossy, so no exact
    oracle is possible even with a decoder — and the metadata-only
    media types) keep the clearly-marked deterministic fake
    (md5-seeded unit vector, ``dim`` wide): their codecs are absent in
    this sandbox, and the fake keeps the binary->array<float> plumbing
    exercised end-to-end — swap the seam for a real codec on a cluster
    that ships one.

    One ``mapInArrow`` pass carries ``id_col`` through and appends
    ``features``."""
    import numpy as np
    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    _decoders = {"png": decode_png_pixels, "gif": decode_gif_pixels}

    def _feat(data):
        if data is None:
            return None
        dec = _decoders.get(sniff_format(data))
        if dec is not None:
            try:
                return image_feature_vector(dec(data))
            except ValueError:
                return None  # corrupt/unsupported: loud null
        digest = hashlib.md5(data).digest()  # labeled fake (non-PNG)
        rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
        vec = rng.standard_normal(dim)
        return (vec / np.linalg.norm(vec)).astype(np.float32).tolist()

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            feats = [_feat(b) for b in batch.column(1).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(feats, pa.list_(pa.float32()))],
                names=[id_col, "features"],
            )

    slim = frames.select(F.col(id_col), F.col(bin_col))
    return slim.mapInArrow(run, StructType(
        [slim.schema[id_col], StructField("features", ArrayType(FloatType()))]
    ))


def sample_video_frames(
    media: DataFrame,
    id_col: str,
    bin_col: str,
    every_n_bytes: int = 4096,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled "frame".

    Real decoder absent -> frames are deterministic byte windows of the
    container (offset/step schema identical to a real frame sampler);
    demonstrates the 1->N explode shape and per-frame binary payloads."""
    import pyarrow as pa

    schema = pa.schema(
        [
            ("_id", pa.string()),
            ("frame_idx", pa.int32()),
            ("byte_offset", pa.int64()),
            ("frame", pa.binary()),
        ]
    )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        from markmuse_spark.operators.extract import _binary_views

        for batch in batches:
            ids = batch.column(0).to_pylist()
            blobs = _binary_views(batch.column(1))  # zero-copy, like extract
            out: dict[str, list[Any]] = {n: [] for n in schema.names}
            for i, data in zip(ids, blobs):
                if not data:
                    continue
                for k in range(min(max_frames, 1 + (len(data) - 1) // every_n_bytes)):
                    off = k * every_n_bytes
                    out["_id"].append(str(i))
                    out["frame_idx"].append(k)
                    out["byte_offset"].append(off)
                    out["frame"].append(bytes(data[off : off + 256]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(out[n], type=schema.field(n).type) for n in schema.names],
                schema=schema,
            )

    return media.select(F.col(id_col).cast("string"), F.col(bin_col)).mapInArrow(
        run, "_id string, frame_idx int, byte_offset long, frame binary"
    )
