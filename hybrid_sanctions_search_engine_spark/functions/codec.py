"""Vectorized LEB128 varint codecs for posting-list compression.

Posting lists are stored as delta-encoded doc-id gaps packed with LEB128
varints (the compression family named by the north star; PForDelta would be a
drop-in swap at the same call sites).  Both encode and decode are pure numpy
— no per-element Python loops — so they run fast inside ``applyInPandas``
index-build / query stages.  ``sources.index_io`` is the only package
module that calls them: it owns the shard byte format (the gap deltas
and their segmented prefix sums live there).
"""

from __future__ import annotations

import numpy as np


def _varint_offsets(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte offsets (length v.size+1; offsets[i]..offsets[i+1]
    is value i's byte range in the encoded buffer)."""
    # vectorized bit length via binary-search shifts
    bl = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = tmp >= (np.uint64(1) << np.uint64(shift))
        bl[mask] += shift
        tmp[mask] >>= np.uint64(shift)
    bl += 1  # bit_length of the remaining 0/1
    nbytes = np.maximum((bl + 6) // 7, 1)
    return np.concatenate(([0], np.cumsum(nbytes)))


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array → bytes (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    offsets = _varint_offsets(v)
    nbytes = np.diff(offsets)
    total = int(offsets[-1])
    out = np.zeros(total, dtype=np.uint8)
    # byte index within each value's group
    pos_in_val = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], nbytes)
    val_rep = np.repeat(v, nbytes)
    shifts = (pos_in_val * 7).astype(np.uint64)
    out[:] = ((val_rep >> shifts) & np.uint64(0x7F)).astype(np.uint8)
    # continuation bit on every byte except each value's last
    last_idx = offsets[1:] - 1
    cont = np.ones(total, dtype=bool)
    cont[last_idx] = False
    out[cont] |= 0x80
    return out.tobytes()


def varint_encode_grouped(
    values: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """LEB128-encode ONE array and return per-group byte blobs for the value
    ranges [starts[g], ends[g]).  Byte-identical to calling ``varint_encode``
    per group, but with a single vectorized pass — the index encoder's
    per-(term, chunk) loop was 240k separate encode calls before this."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b"" for _ in range(len(starts))]
    offsets = _varint_offsets(v)
    buf = varint_encode(v)
    return [
        buf[offsets[s] : offsets[e]] for s, e in zip(starts.tolist(), ends.tolist())
    ]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array (vectorized)."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_last = (raw & 0x80) == 0
    if is_last.all():
        # every value fits one byte (gap/tf/doc_len streams are almost
        # always < 128): the values ARE the bytes — skip the grouped pass
        return raw.astype(np.uint64)
    # value start positions: byte 0 and every byte following a terminal one
    # (O(n) flatnonzero instead of a searchsorted over the group ids)
    newval = np.empty(raw.size, dtype=bool)
    newval[0] = True
    newval[1:] = is_last[:-1]
    starts = np.flatnonzero(newval)
    nbytes = np.empty(starts.size, dtype=np.int64)
    nbytes[:-1] = np.diff(starts)
    nbytes[-1] = raw.size - starts[-1]
    pos_in_val = np.arange(raw.size, dtype=np.int64) - np.repeat(starts, nbytes)
    contrib = (raw.astype(np.uint64) & np.uint64(0x7F)) << (pos_in_val * 7).astype(
        np.uint64
    )
    return np.add.reduceat(contrib, starts)

