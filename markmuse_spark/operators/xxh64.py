"""Vectorized XXH64 over many byte strings at once (numpy, no per-string
Python loop).

Bit-identical to Spark's ``xxhash64`` of a string column: Spark hashes
the UTF-8 bytes with the standard XXH64 algorithm (``XXH64.java``,
little-endian word reads, seed 42), which is what
:func:`xxh64` computes for every ``data[starts[i] : starts[i] +
lengths[i]]``.  The strings are processed in lock-step: every round of
the algorithm is one numpy operation over the strings that still have
input for it, so a batch costs ``max(len) / 32 + 7`` rounds however
many strings it holds.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
#: Spark's ``xxhash64`` default seed
_SEED = np.uint64(42)


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane):
    return _rotl(acc + lane * _P2, 31) * _P1


def xxh64(data, starts, lengths) -> np.ndarray:
    """XXH64 of each byte string ``data[starts[i] : starts[i] + lengths[i]]``.

    ``data`` is a uint8 array (an Arrow string array's data buffer, say);
    returns the hashes as int64, the type Spark's ``xxhash64`` returns."""
    buf = np.concatenate([np.asarray(data, dtype=np.uint8), np.zeros(8, np.uint8)])
    # overlapping unaligned views: word i is the 8 (4) bytes at byte i
    w64 = np.ndarray((len(buf) - 7,), "<u8", buf, 0, (1,))
    w32 = np.ndarray((len(buf) - 3,), "<u4", buf, 0, (1,))
    pos = np.asarray(starts, dtype=np.int64).copy()
    n_bytes = np.asarray(lengths, dtype=np.int64)
    end = pos + n_bytes
    with np.errstate(over="ignore"):
        h = np.full(len(pos), _SEED + _P5, dtype=np.uint64)
        big = np.flatnonzero(n_bytes >= 32)
        if big.size:
            v = [
                np.full(big.size, x, dtype=np.uint64)
                for x in (_SEED + _P1 + _P2, _SEED + _P2, _SEED, _SEED - _P1)
            ]
            p = pos[big]
            limit = end[big] - 32
            act = np.arange(big.size)
            while act.size:  # 32-byte stripes, four lanes
                q = p[act]
                for j in range(4):
                    v[j][act] = _round(v[j][act], w64[q + 8 * j])
                p[act] = q + 32
                act = act[p[act] <= limit[act]]
            hb = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for lane in v:
                hb = (hb ^ _round(np.uint64(0), lane)) * _P1 + _P4
            h[big] = hb
            pos[big] = p
        h += n_bytes.astype(np.uint64)
        act = np.flatnonzero(pos + 8 <= end)
        while act.size:  # the 0-3 remaining 8-byte words
            q = pos[act]
            h[act] = _rotl(h[act] ^ _round(np.uint64(0), w64[q]), 27) * _P1 + _P4
            pos[act] = q + 8
            act = act[pos[act] + 8 <= end[act]]
        act = np.flatnonzero(pos + 4 <= end)
        if act.size:  # one 4-byte word
            q = pos[act]
            h[act] = _rotl(h[act] ^ (w32[q].astype(np.uint64) * _P1), 23) * _P2 + _P3
            pos[act] = q + 4
        act = np.flatnonzero(pos < end)
        while act.size:  # the 0-3 remaining bytes
            q = pos[act]
            h[act] = _rotl(h[act] ^ (buf[q].astype(np.uint64) * _P5), 11) * _P1
            pos[act] = q + 1
            act = act[pos[act] < end[act]]
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)
