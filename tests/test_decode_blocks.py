"""The one posting-block decoder (``query/exec.decode_blocks``, a
``mapInArrow`` kernel) pinned block by block against the per-block
varbyte decoders ``decode_sorted`` / ``vb_decode`` /
``decode_position_lists``."""

import random

import numpy as np
import pyarrow as pa
import pytest

from searchengine_spark.index.varbyte import (
    decode_position_lists,
    decode_sorted,
    encode_positions_flat,
    encode_sorted,
    vb_decode,
    vb_encode,
)
from searchengine_spark.query.exec import _decode_kernel, decode_blocks

SCHEMA = (
    "term string, bucket int, docs_vb binary, tfs_vb binary, dls_vb binary, "
    "pos_vb binary, scores array<double>"
)
ARROW = pa.schema(
    [
        ("term", pa.string()),
        ("bucket", pa.int32()),
        ("docs_vb", pa.binary()),
        ("tfs_vb", pa.binary()),
        ("dls_vb", pa.binary()),
        ("pos_vb", pa.binary()),
        ("scores", pa.list_(pa.float64())),
    ]
)
U64_TOP = (1 << 64) - 1


def _fuzz_blocks(seed: int, n: int = 120) -> list[tuple]:
    """Posting-block rows: empty blocks, 10-byte varints in every int
    column (gaps, tfs and dls ≥ 2^63 wrap to int64 on both sides), and
    runs of rows sharing one (term, bucket), as chunked builds write."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        term, bucket = f"t{i // 4}", (i // 2) % 5  # pairs of rows share a key
        k = rng.choice([0, 1, 2, 5, 17])
        if i % 9 == 3:  # raw 10-byte varint gaps
            gaps = [rng.choice([U64_TOP, 1 << 63, rng.randrange(1 << 63, 1 << 64)]) for _ in range(k)]
            docs_vb = vb_encode(np.array(gaps, dtype=np.uint64))
        else:
            docs = sorted(rng.sample(range(1 << rng.choice([8, 20, 62])), k))
            docs_vb = encode_sorted(np.array(docs, dtype=np.int64))
        tfs = [rng.choice([1, 2, 3, 7]) for _ in range(k)]
        dls = [rng.choice([1, 300, 1 << 40, U64_TOP]) for _ in range(k)]
        pos = [sorted(rng.sample(range(1 << rng.choice([4, 16, 30])), tf)) for tf in tfs]
        flat = np.array([p for ps in pos for p in ps], dtype=np.int64)
        rows.append(
            (
                term,
                bucket,
                docs_vb,
                vb_encode(np.array(tfs, dtype=np.uint64)),
                vb_encode(np.array(dls, dtype=np.uint64)),
                encode_positions_flat(flat, np.array(tfs)),
                [rng.random() for _ in range(k)],
            )
        )
    return rows


def _oracle(rows: list[tuple], cols: tuple[str, ...]) -> list[tuple]:
    """Per-block decode, one posting per output row, in block order."""
    out = []
    for term, _, dvb, tvb, lvb, pvb, scores in rows:
        d = decode_sorted(dvb)
        t = vb_decode(tvb).astype(np.int64)
        got = {
            "docs_vb": d.tolist(),
            "tfs_vb": t.tolist(),
            "dls_vb": vb_decode(lvb).astype(np.int64).tolist(),
            "pos_vb": [p.tolist() for p in decode_position_lists(pvb, t)],
            "scores": list(scores),
        }
        for j in range(len(d)):
            out.append((term, *(got[c][j] for c in cols)))
    return out


SELECTIONS = [
    ("docs_vb", "tfs_vb", "dls_vb"),
    ("docs_vb", "tfs_vb", "pos_vb"),
    ("docs_vb", "tfs_vb"),
    ("docs_vb", "scores"),
    ("docs_vb", "tfs_vb", "dls_vb", "pos_vb"),
]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_kernel_on_sliced_batches_matches_per_block_decode(seed):
    rows = _fuzz_blocks(seed)
    rb = pa.RecordBatch.from_pylist(
        [dict(zip(ARROW.names, r)) for r in rows], schema=ARROW
    )
    rng = random.Random(seed)
    for cols in SELECTIONS:
        sel = rb.select(["term", *cols])
        # a batch is often a slice of a larger buffer: nonzero offsets
        cuts = sorted(rng.sample(range(1, len(rows)), 6))
        bounds = [0, *cuts, len(rows)]
        got = []
        for a, b in zip(bounds, bounds[1:]):
            for out in _decode_kernel(iter([sel.slice(a, b - a)])):
                got.extend(tuple(r.values()) for r in out.to_pylist())
        assert got == _oracle(rows, cols), cols
    assert list(_decode_kernel(iter([rb.slice(0, 0)]))) == []


def test_decode_blocks_spark_small_batches_and_empty(spark):
    rows = _fuzz_blocks(7)
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        for cols in SELECTIONS:
            out = decode_blocks(df.select("term", *cols))
            got = [tuple(r) for r in out.collect()]
            assert got == _oracle(rows, cols), cols
        full = decode_blocks(df.select("term", "docs_vb", "tfs_vb", "dls_vb", "pos_vb", "scores"))
        assert full.schema.simpleString() == (
            "struct<term:string,doc_id:bigint,tf:bigint,dl:bigint,"
            "positions:array<int>,scores:double>"
        )
        empty = decode_blocks(df.where("term = 'absent'").select("term", "docs_vb", "tfs_vb"))
        assert empty.collect() == []
        assert empty.columns == ["term", "doc_id", "tf"]
        plan = full._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_decoded_postings_matches_per_block_decode(spark, built_index):
    """On a built index (chunked, so (term, bucket) keys repeat across
    rows): the whole postings table through the kernel equals each
    stored block decoded on its own."""
    import pyarrow.dataset as ds

    from searchengine_spark.query.exec import IndexHandle, decoded_postings

    cols = ("docs_vb", "tfs_vb", "dls_vb", "pos_vb")
    got = sorted(
        (r["term"], r["doc_id"], r["tf"], r["dl"], r["positions"])
        for r in decoded_postings(IndexHandle(spark, built_index), None, cols).collect()
    )
    t = ds.dataset(f"{built_index}/postings").to_table(columns=["term", *cols])
    rows = [
        (r["term"], 0, r["docs_vb"], r["tfs_vb"], r["dls_vb"], r["pos_vb"], [])
        for r in t.to_pylist()
    ]
    assert got == sorted(_oracle(rows, cols))
    assert len(got) > 20_000
