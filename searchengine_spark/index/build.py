"""Partition-parallel inverted-index build (SURVEY.md §7.3-§7.4).

Pipeline (all DataFrame ops; Python only at the Arrow kernels):

    pages(url, warc_ts, html, text, lang)
      → dense doc_id assignment (scalable: range-partition by url,
        per-partition counts → broadcast offsets; NO single-task window)
      → tokenized_docs_arrow (mapInArrow: per-doc term/tf/positions + dl + Ld)
      → docs(doc_id, url, warc_ts, lang, dl, ld, terms)
      → per doc-range chunk, build_postings_local (mapInArrow, no
        exchange): explode in-kernel, bucket = doc_id // bucket_docs
        (the skew strategy), sort by (term, bucket, doc), block stats,
        block-max, delta+varbyte encode → binary blobs
      → postings(term, bucket, df_b, …, docs_vb, tfs_vb, pos_vb, dls_vb)
        written (term, bucket)-sorted per file; lexicon(term, df, cf,
        max_tf) on top.

Skew / "salting" (north_rule): the salt is ``bucket = doc_id //
bucket_docs`` — a *range* salt rather than a hash salt. Every
``(term, bucket)`` block holds ≤ bucket_docs postings, so a stopword
appearing in 10^11 documents becomes 10^11/bucket_docs bounded-size
blocks instead of one unbounded posting row. Unlike hash
salting it needs NO second-phase merge: bucket order == docID order, so
the per-term posting list is simply the bucket sequence — the same
document-partitioned layout real web indexes use, and the reference's
docID-sorted invariant (TieredIndexWriter.java:173) holds per block.

Resumability (north_rule): the build is sharded into doc-range chunks;
each chunk commits its postings/docs parquet plus a manifest JSON with
lineage (input fingerprint, doc range, config) and metrics (docs/sec,
postings/sec, bytes). Restart skips committed chunks. A chunk is exactly
an Iceberg append commit when the Iceberg seam is active.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..text.udfs import extract_text, tokenized_docs_arrow
from .varbyte import (
    encode_positions_flat,
    encode_sorted,
    vb_encode,
    vb_encode_all,
)

DEFAULT_BUCKET_DOCS = 1 << 17  # 131,072 docs per posting block row

# On-disk layout version. 2 = int64 max_tf in posting blocks + docs written
# under batch=<id> subdirs by streaming ingest. Bumped whenever the physical
# parquet schema or directory layout changes incompatibly; builders refuse
# to RESUME into a directory stamped with a different version (or an
# unstamped half-built one) — mixing physical schemas/layouts in one
# directory breaks Spark's vectorized parquet reader and partition
# discovery at read time, far from the cause.
LAYOUT_VERSION = 2


def ensure_layout(out_dir: str) -> None:
    """Stamp a fresh index directory with the current layout version, or
    verify an existing stamp before any resume touches the directory."""
    mdir = os.path.join(out_dir, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    lp = os.path.join(mdir, "layout.json")
    if os.path.exists(lp):
        v = json.load(open(lp)).get("layout")
        if v != LAYOUT_VERSION:
            raise RuntimeError(
                f"index dir {out_dir} has layout version {v}, this build "
                f"writes {LAYOUT_VERSION}; resuming would mix physical "
                "schemas/layouts — rebuild, or migrate the directory first"
            )
        return
    has_prior = any(f.endswith(".json") for f in os.listdir(mdir)) or any(
        os.path.exists(os.path.join(out_dir, d)) for d in ("postings", "docs")
    )
    if has_prior:
        raise RuntimeError(
            f"index dir {out_dir} holds pre-layout-{LAYOUT_VERSION} build "
            "state (no layout stamp); resuming with current code would mix "
            "int32/int64 max_tf schemas and docs layouts — rebuild, or "
            "migrate the directory first"
        )
    tmp = lp + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"layout": LAYOUT_VERSION, "max_tf": "int64", "docs": "batch-partitioned-or-flat"},
            f,
        )
    os.replace(tmp, lp)


# --------------------------------------------------------------------------
# dense doc_id assignment — no global window, no driver collect of data
# --------------------------------------------------------------------------

def _ids_from_offsets(parts: DataFrame, order_col: str, id_col: str, offsets: dict[int, int]) -> DataFrame:
    """Per-partition local enumeration on TOP of a local sort, shifted by
    broadcast offsets, via ``monotonically_increasing_id`` arithmetic
    (high 31 bits = partition index, low 33 bits = record number —
    documented Spark layout). Partition indices are stable across the
    persisted RDD (no exchange in between). Assumes < 2^33 rows per
    partition (always true: partition count scales with the corpus)."""
    off_expr = F.create_map(
        *[x for pid, o in offsets.items() for x in (F.lit(pid), F.lit(o))]
    )
    mid = F.monotonically_increasing_id()
    pid_of = F.shiftrightunsigned(mid, 33).cast("int")
    local_of = mid.bitwiseAND(F.lit((1 << 33) - 1))
    return parts.sortWithinPartitions(order_col).withColumn(
        id_col, (local_of + off_expr[pid_of]).cast("long")
    )


def assign_dense_ids(
    df: DataFrame,
    order_col: str = "url",
    id_col: str = "doc_id",
    start: int = 0,
    num_partitions=None,
) -> DataFrame:
    """0-based dense ids in ``order_col`` order (SURVEY §1.1: the Spark
    analogue of the reference's file-visit docID, SimpleEngine.java:58-75,
    with url order as the documented deterministic walk order).

    FAST PATH (sorted inputs — zero shuffle, ONE thin pre-write job):
    compute per-partition (count, min, max) of the key in a single
    tiny-result job, and if the partition key-ranges are strictly
    non-overlapping assign offsets by range order — the ids then need NO
    exchange at all (local sort + offset arithmetic). Crawl dumps land
    partition-sorted by url/prefix, and parquet/Iceberg file splits of
    sorted data inherit the property, so at web scale this is the COMMON
    case: with it, the whole index build is shuffle-free end to end. The
    check is on actual partition contents, so it is safe for any source.

    Whether the stats pass needs a persist depends on the PLAN, not the
    data: an exchange-free plan (file/Iceberg scan, range, local data —
    narrow lineage all the way down) re-executes with identical
    partitioning, so the stats job runs directly against the source with
    the projection PRUNED TO THE KEY COLUMN — on columnar storage that
    reads a thin slice of the bytes, and nothing is cached (caching a
    10^12-row table to count it would be the bug; measured here, the
    full-width persist materialization was ~7 s of NON-SCALING
    memory-copy per build). Only when the plan contains an Exchange
    (whose partitioning would be re-sampled per job — the round-2
    dense-id hazard) is the input pinned with persist first.

    INVARIANT for the no-persist path: scan-partitioning-affecting confs
    (spark.sql.files.maxPartitionBytes / openCostInBytes, …) must not
    change between this call and the materialization of the returned
    DataFrame — a re-plan with different file bin-packing renumbers
    partitions and the offsets go stale. IndexBuilder holds its confs
    for the whole build and its docs write carries a density net
    (min/max/sum of doc_id checked against the closed forms) that fails
    the build loudly if the invariant is ever violated.

    FALLBACK (overlapping inputs): range-repartition by the key, persist
    to pin the sampled range boundaries (load-bearing: the count job and
    the downstream write would otherwise sample boundaries
    independently and ids go non-dense — verified by experiment), count
    rows per partition, same offset arithmetic — one exchange, never a
    global single-task window (a plain ``row_number() OVER (ORDER BY
    url)`` collapses to one task — wrong at 10^12 rows; and a
    ``Window.partitionBy(pid)`` re-shuffles the whole table by pid — the
    round-1 version paid that second full exchange).

    ``num_partitions`` may be an int or a callable(total_rows) → int,
    resolved only on the fallback path (the fast path keeps the input
    partitioning); callers no longer pre-count the input for it.
    ``_sg_persisted`` on the result is the pinned intermediate to
    unpersist once ids are materialized downstream, or None."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # No-persist re-execution is only sound when every leaf's runtime
    # partitioning is pinned by the plan itself: file/batch scans (given
    # stable confs — see INVARIANT above), Range (splits are in the
    # plan), existing RDDs (fixed partitions). LocalTableScan is NOT —
    # its parallelism is chosen per-query (measured: the stats job saw N
    # partitions, the write saw 1, ids went sparse), so local/Arrow
    # inputs keep the persist pin. At web scale the input is always a
    # file scan, so the common case stays zero-copy.
    reusable = "Exchange" not in plan and "LocalTableScan" not in plan
    base = df if reusable else df.persist(StorageLevel.MEMORY_AND_DISK)
    stats = (
        base.select(
            F.spark_partition_id().alias("_pid"), F.col(order_col).alias("_k")
        )
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_k").alias("lo"),
            F.max("_k").alias("hi"),
        )
        .collect()
    )
    live = sorted(
        (r for r in stats if r["n"] > 0), key=lambda r: (r["lo"], r["hi"])
    )
    total = sum(r["n"] for r in live)
    non_overlap = all(
        live[i]["hi"] < live[i + 1]["lo"] for i in range(len(live) - 1)
    )
    if non_overlap:
        offsets: dict[int, int] = {}
        acc = start
        for r in live:
            offsets[r["_pid"]] = acc
            acc += r["n"]
        out = _ids_from_offsets(base, order_col, id_col, offsets)
        out._sg_persisted = None if reusable else base
        out._sg_n_rows = total
        return out
    # overlapping input partitions: pay the one range exchange
    if callable(num_partitions):
        num_partitions = num_partitions(total)
    n_parts = num_partitions or max(
        df.sparkSession.sparkContext.defaultParallelism, 8
    )
    ranged = base.repartitionByRange(n_parts, F.col(order_col)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    counts = ranged.select(
        F.spark_partition_id().alias("_pid")
    ).groupBy("_pid").count().collect()
    if not reusable:
        base.unpersist()  # ranged is materialized; the input copy can go
    by_pid = {r["_pid"]: r["count"] for r in counts}
    offsets = {}
    acc = start
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    out = _ids_from_offsets(ranged, order_col, id_col, offsets)
    out._sg_persisted = ranged
    out._sg_n_rows = total
    return out


# --------------------------------------------------------------------------
# posting-block encoding kernel (Arrow UDF)
# --------------------------------------------------------------------------

ENC_SCHEMA = T.StructType(
    [
        T.StructField("docs_vb", T.BinaryType()),
        T.StructField("tfs_vb", T.BinaryType()),
        T.StructField("pos_vb", T.BinaryType()),
    ]
)


@F.pandas_udf(ENC_SCHEMA)
def _encode_block(
    doc_ids: pd.Series, tfs: pd.Series, pos_flat: pd.Series
) -> pd.DataFrame:
    """Inputs are aligned arrays per (term,bucket) row, already docID-sorted
    JVM-side (sort_array on struct); positions arrive FLATTENED per block
    (lengths = tfs) so the Arrow batch stays columnar end to end.
    Deltas+varbyte, all numpy."""
    out_d, out_t, out_p = [], [], []
    for d, t, p in zip(doc_ids, tfs, pos_flat):
        da = np.asarray(d, dtype=np.int64)
        ta = np.asarray(t, dtype=np.int64)
        out_d.append(encode_sorted(da))
        out_t.append(vb_encode(ta))
        out_p.append(encode_positions_flat(np.asarray(p, dtype=np.int64), ta))
    return pd.DataFrame({"docs_vb": out_d, "tfs_vb": out_t, "pos_vb": out_p})


# --------------------------------------------------------------------------
# zero-shuffle local postings build (per-segment indexing)
# --------------------------------------------------------------------------

POSTINGS_FIELDS = [
    ("term", "string"),
    ("bucket", "int"),
    ("df_b", "int"),
    ("cf_b", "bigint"),
    ("max_tf", "bigint"),
    ("min_dl", "int"),
    ("min_ld", "double"),
    ("doc_first", "bigint"),
    ("doc_last", "bigint"),
    ("max_wdt", "double"),
    ("docs_vb", "binary"),
    ("tfs_vb", "binary"),
    ("pos_vb", "binary"),
    ("dls_vb", "binary"),
]
POSTINGS_SCHEMA_STR = ", ".join(f"{n} {t}" for n, t in POSTINGS_FIELDS)


def _encode_partition_nested(batches, bucket_docs: int):
    """mapInArrow kernel: one partition's NESTED docs rows (doc_id, dl,
    ld, terms) → encoded (term, bucket) blocks, entirely vectorized and
    map-side — no JVM explode, sort or exchange anywhere in the postings
    stage. Exploding inside the kernel keeps the JVM→Python Arrow stream
    at doc granularity: doc_id/dl/ld cross the boundary once per DOC
    instead of once per posting row, and the JVM never materializes an
    exploded copy (a JVM-side explode measured 0.60 2→8-core scaling on
    this phase, memory-bus bound; the matched encode control reads ~0.8).

    Per-task memory is the partition's posting arrays. A (term, bucket)
    whose doc range spans a partition boundary yields one block per
    partition slice — readers union blocks (the invariant
    chunked/streaming builds already rely on)."""
    import pyarrow as pa

    batch_list = [b for b in batches if b.num_rows]
    if not batch_list:
        return
    tbl = pa.Table.from_batches(batch_list)
    doc_id = (
        tbl.column("doc_id").combine_chunks().to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    dl_doc = (
        tbl.column("dl").combine_chunks().to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    ld_doc = tbl.column("ld").combine_chunks().to_numpy(zero_copy_only=False)
    terms = tbl.column("terms").combine_chunks()
    # a NULL terms entry contributes no postings: flatten() skips it, so
    # its repeat count must be 0 (our own docs writer never emits them)
    counts = np.asarray(terms.value_lengths().fill_null(0))
    structs = terms.flatten()
    term_col = structs.field("term")
    tf_arr = structs.field("tf")
    pos = structs.field("positions")
    # NULL rows are guarded above, but a null FIELD inside a terms entry
    # would corrupt silently: a null tf converts to NaN and astype(int64)
    # yields garbage; a null positions sublist desyncs the varbyte carve
    # against the tf run-lengths. The engine's own writer never emits
    # these, but the kernel also ingests externally staged feather files
    # (bench controls) — fail loudly instead.
    if tf_arr.null_count or term_col.null_count or pos.null_count:
        raise ValueError(
            "nested encode kernel: null struct field inside a terms entry "
            f"(term={term_col.null_count}, tf={tf_arr.null_count}, "
            f"positions={pos.null_count} nulls)"
        )
    tf = tf_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    ex_doc = np.repeat(doc_id, counts)
    ex_dl = np.repeat(dl_doc, counts)
    ex_ld = np.repeat(ld_doc, counts)
    ex_bucket = ex_doc // bucket_docs
    yield from _encode_arrays(term_col, ex_bucket, ex_doc, tf, ex_dl, ex_ld, pos)


def _encode_arrays(term_col, bucket, doc_id, tf, dl, ld, pos):
    """Vectorized encode core: flat per-posting arrays (term as a pyarrow
    string array, positions as a pyarrow list array, the rest numpy) →
    encoded (term, bucket) block batches: dictionary-encode terms (C++
    hash) → one np.lexsort over (doc_id, bucket, term rank) →
    ListArray.take gathers positions → group-boundary diff → one
    reduceat per stat and one varbyte encode per stream, carved into
    per-group blobs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(doc_id)
    if n == 0:
        return
    dictenc = pc.dictionary_encode(term_col)
    codes = dictenc.indices.to_numpy(zero_copy_only=False)
    vocab = dictenc.dictionary

    # sort by LEXICOGRAPHIC term (not dictionary code = first-appearance
    # order): the output file is then truly (term, bucket, doc)-sorted, so
    # parquet row-group term min/max stats are narrow intervals — that is
    # what makes both Spark's In(term) row-group skipping and the serving
    # tier's binary-searched interval index actually prune. Rank the
    # (small) vocab once; rows sort by the rank.
    # Arrow C++ string sort; UTF-8 byte order == code-point order, so the
    # rank matches a Python-str sort without materializing the vocab
    sort_idx = pc.sort_indices(vocab).to_numpy(zero_copy_only=False)
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[sort_idx] = np.arange(len(vocab))
    order = np.lexsort((doc_id, bucket, rank[codes]))
    codes_s = codes[order]
    bucket_s = bucket[order]
    doc_s = doc_id[order]
    tf_s = tf[order]
    dl_s = dl[order]
    ld_s = ld[order]
    pos_s = pos.take(pa.array(order))
    pos_off = pos_s.offsets.to_numpy(zero_copy_only=False)
    pos_val = pos_s.values.to_numpy(zero_copy_only=False).astype(np.int64)

    if n > 1:
        changes = (codes_s[1:] != codes_s[:-1]) | (bucket_s[1:] != bucket_s[:-1])
        starts = np.flatnonzero(np.concatenate(([True], changes)))
    else:
        starts = np.array([0])
    ends = np.append(starts[1:], n)
    n_groups = starts.size

    # ---- group stats: one reduceat per stat, NO per-group Python loop.
    # (A partition holds up to millions of tiny (term,bucket) groups; a
    # per-group loop of ~30 numpy calls was the interpreter hot spot of
    # the whole postings phase.)
    df_b = (ends - starts).astype(np.int32)
    cf_b = np.add.reduceat(tf_s, starts)
    max_tf = np.maximum.reduceat(tf_s, starts)
    min_dl = np.minimum.reduceat(dl_s, starts).astype(np.int32)
    min_ld = np.minimum.reduceat(ld_s, starts)
    doc_first = doc_s[starts]
    doc_last = doc_s[ends - 1]
    max_wdt = 1.0 + np.log(max_tf.astype(np.float64))
    terms_arr = pc.take(vocab, pa.array(codes_s[starts]))
    if terms_arr.type != pa.string():
        terms_arr = terms_arr.cast(pa.string())

    # ---- blobs: encode each stream ONCE over the whole partition and
    # carve per-group byte ranges from the cumulative-ends array — the
    # groups tile the sorted arrays contiguously, so the full buffer IS
    # the concatenation of the per-group blobs and a zero-copy Arrow
    # binary array needs only the byte offsets.
    def _group_offsets(value_ends: np.ndarray, elem_bounds: np.ndarray):
        # byte offset at element boundary e: 0 for e==0 else ends[e-1]
        off = np.zeros(elem_bounds.size, dtype=np.int64)
        nz = elem_bounds > 0
        off[nz] = value_ends[elem_bounds[nz] - 1]
        return off

    def _bin_array(buf: np.ndarray, offsets: np.ndarray):
        # pa.binary() carries int32 offsets: a partition whose encoded
        # stream exceeds 2^31 bytes would silently WRAP the offsets and
        # corrupt every blob after the wrap point (ADVICE r3). Fail loudly
        # with the remedy instead — at the default docs_per_task this
        # needs position-pathological docs, but the guard is free.
        if offsets.size and int(offsets[-1]) > np.iinfo(np.int32).max:
            raise ValueError(
                f"encoded postings stream for one task is {int(offsets[-1])} "
                "bytes > int32 offset limit — lower docs_per_task / "
                "maxPartitionBytes so each task's stream stays < 2 GiB"
            )
        return pa.Array.from_buffers(
            pa.binary(),
            offsets.size - 1,
            [
                None,
                pa.py_buffer(offsets.astype(np.int32).tobytes()),
                pa.py_buffer(buf.tobytes()),
            ],
        )

    bounds = np.append(starts, n)  # element boundaries incl. final end

    # docs_vb: delta chain reset at each group start (first doc absolute)
    dgaps = np.empty_like(doc_s)
    dgaps[0] = doc_s[0]
    np.subtract(doc_s[1:], doc_s[:-1], out=dgaps[1:])
    dgaps[starts] = doc_s[starts]
    dbuf, dends = vb_encode_all(dgaps)
    docs_vb = _bin_array(dbuf, _group_offsets(dends, bounds))

    tbuf, tends = vb_encode_all(tf_s)
    tfs_vb = _bin_array(tbuf, _group_offsets(tends, bounds))

    # dls_vb: the per-posting doc length, denormalized next to the
    # posting so BM25 scoring never joins the docs table per candidate
    lbuf, lends = vb_encode_all(dl_s)
    dls_vb = _bin_array(lbuf, _group_offsets(lends, bounds))

    # pos_vb: delta chain reset at each POSTING start (tf >= 1 always, so
    # every pos_off[i] starts a non-empty list); group g owns the
    # position elements [pos_off[starts[g]], pos_off[ends[g]])
    if pos_val.size:
        pgaps = np.empty_like(pos_val)
        pgaps[0] = pos_val[0]
        np.subtract(pos_val[1:], pos_val[:-1], out=pgaps[1:])
        pgaps[pos_off[:-1]] = pos_val[pos_off[:-1]]
        pbuf, pends = vb_encode_all(pgaps)
    else:
        pbuf = np.empty(0, dtype=np.uint8)
        pends = np.empty(0, dtype=np.int64)
    pos_vb = _bin_array(pbuf, _group_offsets(pends, pos_off[bounds]))

    names = [f for f, _ in POSTINGS_FIELDS]
    table = pa.Table.from_arrays(
        [
            terms_arr,
            pa.array(bucket_s[starts].astype(np.int32), type=pa.int32()),
            pa.array(df_b, type=pa.int32()),
            pa.array(cf_b.astype(np.int64), type=pa.int64()),
            pa.array(max_tf.astype(np.int64), type=pa.int64()),
            pa.array(min_dl, type=pa.int32()),
            pa.array(min_ld.astype(np.float64), type=pa.float64()),
            pa.array(doc_first.astype(np.int64), type=pa.int64()),
            pa.array(doc_last.astype(np.int64), type=pa.int64()),
            pa.array(max_wdt, type=pa.float64()),
            docs_vb,
            tfs_vb,
            pos_vb,
            dls_vb,
        ],
        names,
    )
    assert table.num_rows == n_groups
    yield from table.to_batches(max_chunksize=2048)


def build_postings_local(
    docs_tokenized: DataFrame, bucket_docs: int = DEFAULT_BUCKET_DOCS
) -> DataFrame:
    """Postings WITHOUT any shuffle: one per-partition Arrow kernel
    (``_encode_partition_nested``) explodes, sorts and encodes each
    partition's docs. The per-segment indexing shape real web indexes
    use — a (term, bucket) exchange would move the entire tokenized
    corpus through the network at 10^12 docs; this moves nothing (the
    only cross-node data motion left in the whole build is the
    id-assignment range shuffle of raw pages)."""
    def run(batches):
        yield from _encode_partition_nested(batches, bucket_docs)

    return docs_tokenized.select("doc_id", "dl", "ld", "terms").mapInArrow(
        run, schema=POSTINGS_SCHEMA_STR
    )


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

class IndexBuilder:
    """Chunked, resumable index build with per-chunk lineage + metrics."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        bucket_docs: int = DEFAULT_BUCKET_DOCS,
        chunk_docs: int | None = None,
        docs_per_task: int = 25_000,
        id_base: int = 0,
    ) -> None:
        self.spark = spark
        self.out = out_dir
        self.bucket_docs = bucket_docs
        # first doc_id of this build — shard-parallel builds give each
        # shard a disjoint id range (query/sharded.py merges them with
        # global stats). Bucket-aligned so (term,bucket) blocks never
        # straddle a shard boundary and chunk/bucket alignment math holds.
        if id_base % bucket_docs != 0:
            raise ValueError(
                f"id_base {id_base} must be a multiple of bucket_docs "
                f"{bucket_docs} (shard boundaries must align with buckets)"
            )
        self.id_base = id_base
        self.chunk_docs = chunk_docs  # None → single chunk
        # task-count sizing target (_task_count) for the fallback
        # id-assignment exchange: partition counts SCALE WITH DATA, not
        # with the core count, so the docs files those tasks write — and
        # the postings-kernel tasks that read them back, each holding one
        # partition's posting arrays — stay ~docs_per_task docs as the
        # corpus grows. At 10^12 docs this is ~40M tasks per stage — the
        # cluster-sized shape.
        self.docs_per_task = docs_per_task
        ensure_layout(out_dir)

    # -- manifest helpers ---------------------------------------------------
    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.out, "_manifests", f"{name}.json")

    def _committed(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def _commit(self, name: str, payload: dict) -> None:
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path(name))

    # -- build --------------------------------------------------------------
    def _task_count(self, rows: int) -> int:
        return max(
            self.spark.sparkContext.defaultParallelism,
            math.ceil(rows / self.docs_per_task),
        )

    def build(self, pages: DataFrame) -> dict:
        """Full build: docs table once, then postings chunk by chunk.
        Safe to re-invoke after a crash — committed chunks are skipped."""
        t0 = time.time()
        phases: dict[str, float] = {}
        docs_path = os.path.join(self.out, "docs")
        if not self._committed("docs"):
            # assign ids BEFORE tokenizing: the range shuffle + per-partition
            # sort then move raw pages (~hundreds of bytes/row), not
            # tokenized posting structs; tokenization happens as a pure
            # projection inside the single write pass
            # rows carrying only html get their text extracted here (the
            # Arrow-UDF analogue of the reference's body read,
            # SimpleEngine.java:114; byte-identity tested per url)
            cols = set(pages.columns)
            if "html" in cols:
                text_col = (
                    F.coalesce(F.col("text"), extract_text(F.col("html")))
                    if "text" in cols
                    else extract_text(F.col("html"))
                )
                pages = pages.withColumn("text", text_col)
            # num_partitions resolves lazily from the stats job's row count
            # (fallback path only) — the old up-front pages.count() job and
            # the range-sample job are gone; on partition-sorted inputs id
            # assignment itself is shuffle-free, making the WHOLE build
            # zero-exchange
            pt = time.time()
            with_ids = assign_dense_ids(
                pages.select("url", "warc_ts", "lang", "text"),
                order_col="url",
                start=self.id_base,
                num_partitions=self._task_count,
            )
            phases["id_stats"] = time.time() - pt
            # columnar mapInArrow kernel: partition-preserving, so the
            # zero-shuffle fast path above still holds
            docs = tokenized_docs_arrow(
                with_ids.select("doc_id", "url", "warc_ts", "lang", "text"),
                passthrough=("doc_id", "url", "warc_ts", "lang"),
            )
            dt0 = time.time()
            # row count + corpus meta ride the WRITE job itself
            # (df.observe): no separate readback job — the small-job
            # bookkeeping tail is pure serial time that caps scaling
            # efficiency (it cost ~10 s/build in round 1)
            docs_obs = Observation("docs_meta")
            docs = docs.observe(
                docs_obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("dl").alias("total_dl"),
                # density net, riding the same write: the no-persist fast
                # path in assign_dense_ids assumes the scan partitioning
                # is identical between its stats job and this write — true
                # unless a partitioning-affecting conf changed in between.
                # If that ever breaks, ids go non-dense; fail HERE, not at
                # query time.
                # (CollectMetrics forbids distinct aggregates; min+max+sum
                # against the closed forms catches any offset mix-up)
                F.min("doc_id").alias("id_min"),
                F.max("doc_id").alias("id_max"),
                F.sum("doc_id").alias("id_sum"),
            )
            docs.write.mode("overwrite").parquet(docs_path)
            # free the id-assignment cache (fallback path only; the fast
            # path pins nothing) before the postings stage
            if with_ids._sg_persisted is not None:
                with_ids._sg_persisted.unpersist()
            row = docs_obs.get
            n_docs = row["n"]
            b = self.id_base
            if n_docs and not (
                row["id_min"] == b
                and row["id_max"] == b + n_docs - 1
                and row["id_sum"] == n_docs * b + n_docs * (n_docs - 1) // 2
            ):
                raise RuntimeError(
                    f"doc ids not dense after write: min={row['id_min']} "
                    f"max={row['id_max']} sum={row['id_sum']} n={n_docs} — "
                    "scan partitioning changed between the id-stats job "
                    "and the docs write (conf drift?)"
                )
            self._commit(
                "docs",
                {
                    "stage": "docs",
                    "rows": n_docs,
                    "total_dl": int(row["total_dl"] or 0),
                    "elapsed_sec": time.time() - dt0,
                    "docs_per_sec": n_docs / max(time.time() - dt0, 1e-9),
                    "bucket_docs": self.bucket_docs,
                    "id_base": self.id_base,
                    "order": "url",
                },
            )
        docs_full = self.spark.read.parquet(docs_path)
        docs_man = json.load(open(self._manifest_path("docs")))
        n_docs = docs_man["rows"]
        if docs_man.get("id_base", 0) != self.id_base:
            raise RuntimeError(
                f"resume id_base mismatch: docs committed with base "
                f"{docs_man.get('id_base', 0)}, builder configured with "
                f"{self.id_base}"
            )

        chunk = self.chunk_docs or max(n_docs, 1)
        # chunk boundary must align with bucket boundary so every
        # (term,bucket) group lives in exactly one chunk
        chunk = max(self.bucket_docs, (chunk // self.bucket_docs) * self.bucket_docs)
        n_chunks = max(1, math.ceil(n_docs / chunk))
        stats = []
        for c in range(n_chunks):
            name = f"postings_chunk_{c:05d}"
            cdir = os.path.join(self.out, "postings", f"chunk={c}")
            if self._committed(name):
                stats.append(json.load(open(self._manifest_path(name))))
                continue
            ct0 = time.time()
            lo = self.id_base + c * chunk
            hi = self.id_base + min((c + 1) * chunk, n_docs)
            part = docs_full.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select("doc_id", "dl", "ld", "terms")
            # zero-shuffle: the encode kernel's output is already
            # (term,bucket)-sorted within each partition
            post = build_postings_local(part, self.bucket_docs)
            # block/posting/byte metrics ride the write job (df.observe) —
            # the round-1 readback job re-read every blob byte just to sum
            # lengths
            post_obs = Observation(f"postings_meta_{c}")
            post = post.observe(
                post_obs,
                F.count(F.lit(1)).alias("blocks"),
                F.sum("df_b").alias("postings"),
                F.sum(
                    F.length("docs_vb") + F.length("tfs_vb") + F.length("pos_vb")
                ).alias("blob_bytes"),
            )
            # small row groups (1 MiB vs Spark's 128 MiB default) give the
            # serving tier REAL row-group skipping: an In(term)+bucket
            # filter then reads only the matched groups' bytes instead of
            # whole files — cold-cache serve cost becomes proportional to
            # the blocks touched, which is what block-max pruning prunes
            post.write.option("parquet.block.size", 1 << 20).mode(
                "overwrite"
            ).parquet(cdir)
            agg = post_obs.get
            el = time.time() - ct0
            m = {
                "stage": "postings",
                "chunk": c,
                "doc_range": [lo, hi],
                "blocks": agg["blocks"],
                "postings": int(agg["postings"] or 0),
                "blob_bytes": int(agg["blob_bytes"] or 0),
                "elapsed_sec": el,
                "docs_per_sec": (hi - lo) / max(el, 1e-9),
                "postings_per_sec": int(agg["postings"] or 0) / max(el, 1e-9),
                "lineage": {"docs_manifest": "docs", "bucket_docs": self.bucket_docs},
            }
            self._commit(name, m)
            stats.append(m)

        pt = time.time()
        if not self._committed("lexicon"):
            post_all = self.spark.read.option("basePath", os.path.join(self.out, "postings")).parquet(
                os.path.join(self.out, "postings")
            )
            lex = post_all.groupBy("term").agg(
                F.sum("df_b").cast("long").alias("df"),
                F.sum("cf_b").cast("long").alias("cf"),
                F.max("max_tf").alias("max_tf"),
                F.max("max_wdt").alias("max_wdt"),
                F.count(F.lit(1)).alias("n_blocks"),
            )
            lex.repartition(
                max(self.spark.sparkContext.defaultParallelism // 2, 2), "term"
            ).sortWithinPartitions("term").write.mode("overwrite").parquet(
                os.path.join(self.out, "lexicon")
            )
            self._commit("lexicon", {"stage": "lexicon"})
        phases["lexicon"] = time.time() - pt

        if not self._committed("meta"):
            total_dl = docs_man.get("total_dl")
            if total_dl is None:  # manifest from an older build: one agg job
                total_dl = int(
                    docs_full.agg(F.sum("dl")).collect()[0][0] or 0
                )
            self._commit(
                "meta",
                {
                    "n_docs": n_docs,
                    "total_dl": total_dl,
                    "avgdl": total_dl / max(n_docs, 1),
                    "bucket_docs": self.bucket_docs,
                    "id_base": self.id_base,
                },
            )
        total = time.time() - t0
        phases["docs"] = docs_man.get("elapsed_sec", 0.0)
        phases["postings"] = sum(s.get("elapsed_sec", 0.0) for s in stats)
        return {
            "n_docs": n_docs,
            "chunks": stats,
            "elapsed_sec": total,
            "docs_per_sec": n_docs / max(total, 1e-9),
            "phase_secs": {k: round(v, 3) for k, v in phases.items()},
        }
