import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.varbyte import (
    decode_position_lists,
    decode_sorted,
    delta_decode,
    delta_encode,
    encode_position_lists,
    encode_sorted,
    vb_decode,
    vb_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
@settings(max_examples=200, deadline=None)
def test_vb_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert np.array_equal(vb_decode(vb_encode(arr)), arr)


def test_vb_reference_layout():
    # big-endian base-128, MSB set on terminator (VariableByteEncoding.java)
    assert vb_encode(np.array([0])) == bytes([0x80])
    assert vb_encode(np.array([5])) == bytes([0x85])
    assert vb_encode(np.array([127])) == bytes([0xFF])
    assert vb_encode(np.array([128])) == bytes([0x01, 0x80])
    assert vb_encode(np.array([214577])) == bytes([0x0D, 0x0C, 0xB1 | 0x80 & 0xFF])


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=100)
)
@settings(max_examples=100, deadline=None)
def test_sorted_roundtrip(xs):
    arr = np.sort(np.array(xs, dtype=np.int64))
    assert np.array_equal(decode_sorted(encode_sorted(arr)), arr)


def test_delta():
    a = np.array([3, 7, 7, 20], dtype=np.int64)
    assert list(delta_encode(a)) == [3, 4, 0, 13]
    assert np.array_equal(delta_decode(delta_encode(a)), a)


def test_position_lists_roundtrip():
    lists = [np.array([1, 5, 9]), np.array([2]), np.array([100, 101])]
    tfs = np.array([3, 1, 2])
    out = decode_position_lists(encode_position_lists(lists), tfs)
    for got, want in zip(out, lists):
        assert np.array_equal(got, want)


def test_positions_flat_matches_nested():
    import numpy as np

    from searchengine_spark.index.varbyte import (
        encode_position_lists,
        encode_positions_flat,
    )

    lists = [np.array([1, 5, 9]), np.array([2]), np.array([3, 4, 100, 200])]
    flat = np.concatenate(lists)
    tfs = np.array([len(x) for x in lists])
    assert encode_positions_flat(flat, tfs) == encode_position_lists(lists)
    assert encode_positions_flat(np.array([], dtype=np.int64), np.array([], dtype=np.int64)) == b""


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=8, unique=True),
        max_size=30,
    )
)
@settings(max_examples=100, deadline=None)
def test_positions_flat_roundtrip(lists):
    """decode_positions_flat inverts encode_positions_flat, and
    decode_position_lists is its per-posting split."""
    from searchengine_spark.index.varbyte import decode_positions_flat, encode_positions_flat

    lists = [sorted(x) for x in lists]
    tfs = np.array([len(x) for x in lists], dtype=np.int64)
    flat = np.array([p for x in lists for p in x], dtype=np.int64)
    buf = encode_positions_flat(flat, tfs)
    got = decode_positions_flat(buf, tfs)
    assert got.dtype == np.int64 and np.array_equal(got, flat)
    assert [x.tolist() for x in decode_position_lists(buf, tfs)] == lists


def test_position_lists_empty():
    assert encode_position_lists([]) == b""
    assert decode_position_lists(b"", np.array([], dtype=np.int64)) == []


def test_vb_encode_all_segmentation_property():
    """The whole-array encode + per-value byte ends must slice into the
    same bytes as encoding each segment independently — the invariant
    the vectorized postings kernel relies on to carve per-(term,bucket)
    blobs from one encode (index/build._encode_arrays)."""
    import random

    import numpy as np

    from searchengine_spark.index.varbyte import vb_encode, vb_encode_all

    rng = random.Random(99)
    for _ in range(25):
        n = rng.randrange(1, 200)
        # mix of 1-byte..multi-byte magnitudes incl. 64-bit extremes
        vals = np.array(
            [rng.choice([rng.randrange(0, 128),
                         rng.randrange(0, 1 << 14),
                         rng.randrange(0, 1 << 40),
                         (1 << 64) - 1 - rng.randrange(0, 3)])
             for _ in range(n)],
            dtype=np.uint64,
        )
        buf, ends = vb_encode_all(vals)
        whole = buf.tobytes()
        assert whole == vb_encode(vals)
        # random segmentation
        cuts = sorted(rng.sample(range(1, n), min(rng.randrange(0, 6), n - 1))) if n > 1 else []
        bounds = [0, *cuts, n]
        for a, b in zip(bounds, bounds[1:]):
            off_a = 0 if a == 0 else int(ends[a - 1])
            off_b = 0 if b == 0 else int(ends[b - 1])
            assert whole[off_a:off_b] == vb_encode(vals[a:b]), (a, b, vals[a:b])
