"""Vectorized delta + variable-byte codecs (numpy).

Same wire idea as the reference (``Milestone2/VariableByteEncoding.java:20-58``:
big-endian base-128 groups, MSB set on the terminating byte), implemented
as numpy whole-array kernels — no per-integer Python. The Spark decode
kernel (``query/exec.decode_blocks``, ``mapInArrow``) decodes a whole
Arrow batch of blocks per call and the serving tier one block per call,
so the Python interpreter never touches a single posting.

The north rule pins "sorted, delta+varbyte-compressed posting lists" as an
explicit index property (Parquet's own page encoding is orthogonal — these
blobs live in ``binary`` columns and survive any storage codec).
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MAX_BYTES = 10  # ceil(64/7)


def vb_encode_all(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a non-negative int array in one vectorized pass; returns
    (uint8 byte buffer, int64 per-value CUMULATIVE byte ends). The ends
    array lets a caller slice the buffer into arbitrary contiguous
    value segments without re-encoding — the whole-partition encode of
    ``index/build._encode_arrays`` carves per-(term,bucket) blobs
    from ONE encode instead of one encoder call per group."""
    n = np.asarray(values, dtype=_U64)
    if n.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbytes = np.ones(n.shape, dtype=np.int64)
    for shift in range(7, 64, 7):
        nbytes += (n >= (_U64(1) << _U64(shift))).astype(np.int64)
    ends = np.cumsum(nbytes)  # index AFTER each value's bytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    maxb = int(nbytes.max())
    for j in range(maxb):  # j-th byte from the END of each value
        mask = nbytes > j
        pos = ends[mask] - 1 - j
        vals = ((n[mask] >> _U64(7 * j)) & _U64(127)).astype(np.uint8)
        if j == 0:
            vals |= 128  # terminator byte has MSB set
        out[pos] = vals
    return out, ends


def vb_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int array to variable-byte bytes."""
    out, _ = vb_encode_all(values)
    return out.tobytes()


def vb_decode(buf: bytes) -> np.ndarray:
    """Decode variable-byte bytes back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    ends = np.flatnonzero(b >= 128)  # terminator positions
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = (b[ends] & np.uint8(127)).astype(_U64)
    maxb = int(lens.max())
    for j in range(1, maxb):
        mask = lens > j
        vals[mask] += b[ends[mask] - j].astype(_U64) << _U64(7 * j)
    return vals


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """Gaps with the first value kept absolute (docID-gap scheme of
    ``Milestone2/IndexWriter.java:98``)."""
    a = np.asarray(sorted_values, dtype=np.int64)
    if a.size == 0:
        return a.astype(_U64)
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out.astype(_U64)


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=_U64)).astype(np.int64)


def encode_sorted(sorted_values: np.ndarray) -> bytes:
    return vb_encode(delta_encode(sorted_values))


def decode_sorted(buf: bytes) -> np.ndarray:
    return delta_decode(vb_decode(buf))


def encode_position_lists(positions: list[np.ndarray]) -> bytes:
    """Concatenate per-posting position lists, each delta-encoded with its
    first position absolute. Lengths are NOT stored — the caller's tf
    array carries them (tf == len(positions), PositionalIndex.java:21-49)."""
    if not positions:
        return b""
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in positions])
    gaps = np.empty_like(flat)
    gaps[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=gaps[1:])
    # reset the delta chain at each list boundary: first pos absolute
    offs = np.cumsum([len(p) for p in positions[:-1]])
    firsts = np.concatenate([[0], offs]).astype(np.int64)
    for i, o in zip(range(len(positions)), firsts):
        gaps[o] = np.asarray(positions[i], dtype=np.int64)[0]
    return vb_encode(gaps.astype(_U64))


def encode_positions_flat(flat: np.ndarray, tfs: np.ndarray) -> bytes:
    """Same wire format as :func:`encode_position_lists`, but takes the
    per-posting position lists pre-FLATTENED (with ``tfs`` as lengths).
    Rationale: Spark-side ``flatten(...)`` turns the per-block positions
    into ONE int array column, so the Arrow transfer stays columnar —
    a nested array<array<int>> column would materialize a Python list
    object per posting at the UDF boundary."""
    flat = np.asarray(flat, dtype=np.int64)
    if flat.size == 0:
        return b""
    gaps = np.empty_like(flat)
    gaps[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=gaps[1:])
    starts = np.cumsum(np.asarray(tfs, dtype=np.int64))[:-1]
    gaps[starts] = flat[starts]  # reset the delta chain per posting
    return vb_encode(gaps.astype(_U64))


def decode_positions_flat(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions_flat`: every position of the
    blob in ONE flat int64 array, posting after posting (``tfs`` gives
    the lengths). Each posting's delta chain restarts at its first,
    absolute position, so any concatenation of delta+varbyte blobs —
    a batch's ``docs_vb`` blocks with their posting counts as ``tfs``
    too — decodes in the same single pass."""
    tfs = np.asarray(tfs, dtype=np.int64)
    cum = np.cumsum(vb_decode(buf).astype(np.int64))
    prev = np.concatenate((np.zeros(1, np.int64), cum))[np.cumsum(tfs) - tfs]
    return cum - np.repeat(prev, tfs)


def decode_position_lists(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """:func:`decode_positions_flat`, split into one array per posting."""
    tfs = np.asarray(tfs, dtype=np.int64)
    flat = decode_positions_flat(buf, tfs)
    return [flat[e - n : e] for e, n in zip(np.cumsum(tfs).tolist(), tfs.tolist())]
