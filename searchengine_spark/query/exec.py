"""Ranked top-k query execution (SURVEY.md §7.5).

Spark shape (§3.2): tiny broadcast dim (query-term weights) ⋈ bucket/
rowgroup-pruned postings scan → block decode → JVM aggregation → top-k
via ORDER BY ... LIMIT k (TakeOrderedAndProject — no full sort).

Every Spark path that reads posting blocks — ranked, the tf-idf batch
exchange, boolean/NEAR, the tiered builds and tiered queries — decodes
them through ONE ``mapInArrow`` kernel (``decode_blocks``), which decodes
exactly the block columns its input carries.

Two scorers on one index, both defined once in query/scoring.py:
``tfidf_ref`` (the reference's lnc tf-idf, the rank-identity gate) and
``bm25`` (the north-star web-scale scorer; dl = Σ tf, avgdl from build
meta).

Tie-break: (score DESC, doc_id ASC) — the reference's heap leaves equal
scores unordered (RankedQueryParser.java:42-52), so we pin doc_id order
and the oracle mirrors it (SURVEY §2.5 K4).
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

from ..index.varbyte import decode_positions_flat, decode_sorted, vb_decode
from ..text.porter import porter_stem
from ..text.tokenizer import remove_apostrophes, strip_for_query
from . import scoring


def expand_ranked_query(query: str) -> list[str]:
    """Reference ranked-query term expansion (RankedQueryParser.java:69-116):
    lowercase (QueryFrame.java:284), split on single spaces, each subquery
    split on '-' with every part T9-normalized, plus the hyphens-removed
    concatenation as an extra term. Duplicates are KEPT — a term appearing
    twice accumulates twice."""
    terms: list[str] = []
    for sub in query.lower().strip().split(" "):
        # Java String.split drops trailing empties only; empty tokens stem
        # to "" and lookup misses — equivalent to skipping them.
        for tok in sub.split("-"):
            t = porter_stem(remove_apostrophes(strip_for_query(tok)))
            if t:
                terms.append(t)
        if "-" in sub:
            t = porter_stem(remove_apostrophes(strip_for_query(sub.replace("-", ""))))
            if t:
                terms.append(t)
    return terms


@dataclass
class IndexHandle:
    """Open handle on a built index directory (cache the DataFrames — the
    reference reuses parser/index objects across queries the same way,
    QueryFrame.java:245-248)."""

    spark: SparkSession
    path: str

    def __post_init__(self) -> None:
        from ..index.compact import recover_compaction

        # repair a crashed compaction swap before touching the layout
        recover_compaction(self.path)
        self.postings = self.spark.read.option(
            "basePath", os.path.join(self.path, "postings")
        ).parquet(os.path.join(self.path, "postings"))
        self.docs = self.spark.read.parquet(os.path.join(self.path, "docs")).select(
            "doc_id", "url", "dl", "ld"
        )
        self.lexicon = self.spark.read.parquet(os.path.join(self.path, "lexicon"))
        self.meta = json.load(
            open(os.path.join(self.path, "_manifests", "meta.json"))
        )
        # driver-RAM df memo (see term_dfs) — bounded by distinct QUERIED
        # terms, not lexicon size, so it stays scale-safe on a shard whose
        # full lexicon wouldn't fit on the driver
        self._df_memo: dict[str, int] = {}
        self._lex_ds = None

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """term → df for the PRESENT subset of ``terms``, via a driver-RAM
        memo over a footer-pruned pyarrow read of the lexicon — the batch/
        interactive planners' analogue of the serving tier's RAM lexicon
        (serve.py term_stats), but lazy: each distinct term is fetched once
        (misses memoize as df=0) and never costs a Spark job. Repeated
        queries — the batch harness, bench reps — are pure dict hits.
        Falls back to a Spark collect when the index path isn't
        pyarrow-readable (e.g. a remote URI with no local filesystem
        mapping)."""
        todo = sorted({t for t in terms if t not in self._df_memo})
        if todo:
            found: dict[str, int] = {}
            try:
                import pyarrow.compute as pc
                import pyarrow.dataset as ds

                if self._lex_ds is None:
                    self._lex_ds = ds.dataset(
                        os.path.join(self.path, "lexicon"), format="parquet"
                    )
                t = self._lex_ds.to_table(
                    columns=["term", "df"], filter=pc.field("term").isin(todo)
                )
                found = {
                    term: int(df)
                    for term, df in zip(t["term"].to_pylist(), t["df"].to_pylist())
                }
            except Exception:
                found = {
                    r["term"]: int(r["df"])
                    for r in self.lexicon.filter(F.col("term").isin(todo))
                    .select("term", "df")
                    .collect()
                }
            for term in todo:
                self._df_memo[term] = found.get(term, 0)
        return {t: self._df_memo[t] for t in set(terms) if self._df_memo.get(t, 0) > 0}


# posting-block column → the decoded per-posting column it becomes
_BLOCK_COLS = {
    "docs_vb": ("doc_id", LongType()),
    "tfs_vb": ("tf", LongType()),
    "dls_vb": ("dl", LongType()),
    "pos_vb": ("positions", ArrayType(IntegerType())),
}


def _blob_bytes(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A binary column's blobs as ONE zero-copy uint8 array plus each
    row's [start, end) offsets into it (rebased, so sliced batches work)."""
    _, offs, data = col.buffers()
    width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    off = np.frombuffer(offs, width)[col.offset : col.offset + len(col) + 1]
    buf = np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8)
    return buf[off[0] : off[-1]], off - off[0]


def _decode_kernel(batches):
    """mapInArrow kernel: posting-block rows → one row per posting, the
    'getPostings[WithPositions]' path (DiskInvertedIndex.java:43-126).
    Whichever block columns the caller selected are decoded (see
    ``_BLOCK_COLS``), so positions are paid for only when asked for
    (lazy position decode, SURVEY §4); a per-posting list column
    (``postings_scored.scores``) is flattened and any other column
    (``term``) repeats per posting. Each column of a batch decodes in
    ONE numpy pass over its concatenated blobs — Python touches batches,
    not blocks or postings."""
    for rb in batches:
        if not rb.num_rows:
            continue
        names = rb.schema.names
        blobs = {c: _blob_bytes(rb.column(c)) for c in _BLOCK_COLS if c in names}
        buf, off = blobs["docs_vb"]
        # postings per block = terminator bytes per docs blob
        n = np.diff(np.searchsorted(np.flatnonzero(buf >= 128), off))
        out = {"docs_vb": decode_positions_flat(buf, n)}
        for c in ("tfs_vb", "dls_vb"):
            if c in blobs:
                out[c] = vb_decode(blobs[c][0]).astype(np.int64)
        if "pos_vb" in blobs:  # needs tfs_vb: the tfs are the list lengths
            tf = out["tfs_vb"]
            # array<int> has int32 offsets: pa.array raises, never wraps
            out["pos_vb"] = pa.ListArray.from_arrays(
                pa.array(np.concatenate(([0], np.cumsum(tf))), pa.int32()),
                pa.array(decode_positions_flat(blobs["pos_vb"][0], tf), pa.int32()),
            )
        take = np.repeat(np.arange(rb.num_rows), n)
        cols = [
            pa.array(out[c]) if c in out
            else col.flatten() if pa.types.is_list(col.type)
            else col.take(take)
            for c, col in zip(names, rb.columns)
        ]
        yield pa.RecordBatch.from_arrays(
            cols, names=[_BLOCK_COLS[c][0] if c in _BLOCK_COLS else c for c in names]
        )


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Decode a DataFrame of posting-block rows (it must carry
    ``docs_vb``) into one row per posting with ``_decode_kernel``; the
    output columns follow the input's, in its order."""
    fields = [
        StructField(*_BLOCK_COLS[f.name]) if f.name in _BLOCK_COLS
        else StructField(f.name, f.dataType.elementType)
        if isinstance(f.dataType, ArrayType)
        else f
        for f in blocks.schema.fields
    ]
    return blocks.mapInArrow(_decode_kernel, StructType(fields))


def decoded_postings(
    idx: IndexHandle,
    terms: list[str] | None,
    blocks: tuple[str, ...] = ("docs_vb", "tfs_vb", "dls_vb"),
) -> DataFrame:
    """Bucket-pruned scan (parquet row-group min/max on the term-sorted
    files is the 'vocab binary search' analogue, SURVEY §4) + decode of
    the ``blocks`` columns → (term, doc_id, tf, dl) rows by default; add
    ``pos_vb`` for positions. ``terms=None`` decodes the WHOLE postings
    table (full-index passes like the tiered build) without
    materializing the vocabulary anywhere — no filter, no driver
    collect."""
    df = idx.postings
    if terms is not None:
        df = df.filter(F.col("term").isin(list(set(terms))))
    return decode_blocks(df.select("term", *blocks))


def ranked_topk(
    idx: IndexHandle,
    query: str,
    k: int = 20,
    scorer: str = "tfidf_ref",
) -> DataFrame:
    """Full-evaluation ranked retrieval → DataFrame
    (doc_id, url, score) with deterministic (score desc, doc_id asc) top-k."""
    spark = idx.spark
    mult = Counter(expand_ranked_query(query))
    dfs = idx.term_dfs(list(mult))
    if not dfs:
        return spark.createDataFrame([], "doc_id long, url string, score double")
    n = float(idx.meta["n_docs"])
    # term order, matching the lexicon's sort
    qw = [(t, scoring.wqt(scorer, n, dfs[t], mult[t])) for t in sorted(dfs)]
    qw_df = F.broadcast(spark.createDataFrame(qw, "term string, wqt double"))
    partial = F.col("wqt") * scoring.tf_part_col(scorer, float(idx.meta["avgdl"]))
    # bm25's dl rides the decoded posting: no docs join on candidates
    blocks = ("docs_vb", "tfs_vb", "dls_vb") if scorer == "bm25" else ("docs_vb", "tfs_vb")
    scored = (
        decoded_postings(idx, [t for t, _ in qw], blocks)
        .join(qw_df, "term")
        .select("doc_id", partial.alias("partial"))
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("score"))
    )
    if scorer == "tfidf_ref":  # lnc: each doc's sum over its Ld
        scored = scored.join(idx.docs.select("doc_id", "ld"), "doc_id").select(
            "doc_id", (F.col("score") / F.col("ld")).alias("score")
        )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    # only the ≤k winners fetch doc metadata
    return (
        topk.join(idx.docs.select("doc_id", "url"), "doc_id")
        .select("doc_id", "url", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _bm25_bucket_topk_kernel(qweights, avgdl: float, bucket_docs: int, k: int):
    """applyInPandas kernel factory for the scatter-gather batch path: one
    group = one BUCKET (a contiguous doc_id range — every posting of every
    doc in the range is co-located by construction, since postings rows are
    keyed (term, bucket)). Decodes the live terms' blocks, accumulates BM25
    per (query, local doc) in numpy, and emits at most k rows per query —
    the per-bucket winners. Exact: each doc lives in exactly one bucket, so
    the global top-k is a subset of the union of per-bucket top-k.

    ``qweights``: {term: [(qid, wqt·mult), ...]} with deterministic list
    order; accumulation iterates blocks in sorted-term order so each
    query's per-doc sum folds in a fixed term order (float-order stable
    across runs)."""

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["term"].to_numpy(), kind="stable")
        base = int(pdf["bucket"].iloc[0]) * bucket_docs
        acc: dict[int, np.ndarray] = {}
        terms = pdf["term"].to_numpy()
        dvbs = pdf["docs_vb"].to_numpy()
        tvbs = pdf["tfs_vb"].to_numpy()
        lvbs = pdf["dls_vb"].to_numpy()
        for i in order:
            users = qweights.get(terms[i])
            if not users:
                continue
            docs = decode_sorted(bytes(dvbs[i]))
            tf = vb_decode(bytes(tvbs[i])).astype(np.float64)
            dl = vb_decode(bytes(lvbs[i])).astype(np.float64)
            contrib = scoring.tf_part("bm25", tf, dl, avgdl)
            local = docs - base
            for qid, w in users:
                arr = acc.get(qid)
                if arr is None:
                    arr = acc[qid] = np.zeros(bucket_docs, dtype=np.float64)
                # docs within one block are unique → fancy += is exact;
                # chunk-duplicate (term,bucket) rows add in separate passes
                arr[local] += w * contrib
        if not acc:
            return pd.DataFrame(
                {"qid": pd.Series(dtype="int32"),
                 "doc_id": pd.Series(dtype="int64"),
                 "score": pd.Series(dtype="float64")}
            )
        qids_out, docs_out, scores_out = [], [], []
        for qid in sorted(acc):
            arr = acc[qid]
            nz = np.nonzero(arr)[0]
            sc = arr[nz]
            # exact (score DESC, doc_id ASC) head — buckets are small, a
            # full lexsort of the matches is cheaper than tie-safe partition
            sel = np.lexsort((nz, -sc))[:k]
            qids_out.append(np.full(len(sel), qid, dtype=np.int32))
            docs_out.append((nz[sel] + base).astype(np.int64))
            scores_out.append(sc[sel])
        return pd.DataFrame(
            {
                "qid": np.concatenate(qids_out),
                "doc_id": np.concatenate(docs_out),
                "score": np.concatenate(scores_out),
            }
        )

    return score_bucket


def ranked_topk_batch(
    idx: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 20,
    scorer: str = "tfidf_ref",
) -> DataFrame:
    """Evaluate MANY ranked queries in ONE Spark job (the analogue of the
    reference's batch harness, Milestone3/SimulateQueryRun.java:33-87, and
    the throughput-bench path) → (qid, rank, doc_id, url, score) rows, the
    exact top-k per qid. One bucket-pruned scan serves every query; the
    final window partitions by qid, never by term, so stopword skew can't
    concentrate in one task. The scorer picks the plan:

      * bm25 — scatter-gather kernel: encoded blocks shuffle once by
        bucket (each block crosses the wire once no matter how many
        queries share its term), one Arrow kernel per bucket scores every
        query numpy-side and emits ≤k rows per query, and a window over
        ≤ k·queries·buckets tiny rows takes the global top-k — the same
        shape the sharded serving root uses across shards.
      * tfidf_ref — declarative exchange: queries become a small
        broadcast dim (qid, term, wqt), decoded postings join it, scores
        aggregate per (qid, doc_id) and divide by Ld from the docs dim."""
    from pyspark.sql.window import Window

    spark = idx.spark
    n = float(idx.meta["n_docs"])
    per_q = {qid: Counter(expand_ranked_query(q)) for qid, q in queries}
    dfs = idx.term_dfs(sorted({t for c in per_q.values() for t in c}))
    rows = [
        (qid, t, scoring.wqt(scorer, n, dfs[t], mult))
        for qid, cnt in per_q.items()
        for t, mult in cnt.items()
        if t in dfs
    ]
    if not rows:
        return spark.createDataFrame(
            [], "qid int, rank int, doc_id long, url string, score double"
        )
    live_terms = sorted({t for _, t, _ in rows})
    if scorer == "bm25":
        qweights: dict[str, list[tuple[int, float]]] = {}
        for qid, t, w in sorted(rows):
            qweights.setdefault(t, []).append((qid, w))
        blocks = idx.postings.filter(
            F.col("term").isin(live_terms)
        ).select("bucket", "term", "docs_vb", "tfs_vb", "dls_vb")
        scored = blocks.groupBy("bucket").applyInPandas(
            _bm25_bucket_topk_kernel(
                qweights, float(idx.meta["avgdl"]), int(idx.meta["bucket_docs"]), k
            ),
            schema="qid int, doc_id long, score double",
        )
    else:
        qdim = F.broadcast(
            spark.createDataFrame(rows, "qid int, term string, wqt double")
        )
        partial = F.col("wqt") * scoring.tf_part_col(scorer)
        scored = (
            decoded_postings(idx, live_terms, ("docs_vb", "tfs_vb"))
            .join(qdim, "term")
            .select("qid", "doc_id", partial.alias("partial"))
            .groupBy("qid", "doc_id")
            .agg(F.sum("partial").alias("acc"))
            .join(idx.docs.select("doc_id", "ld"), "doc_id")
            .select("qid", "doc_id", (F.col("acc") / F.col("ld")).alias("score"))
        )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    # url only for the ≤ n_queries·k winners
    return ranked.join(idx.docs.select("doc_id", "url"), "doc_id").select(
        "qid", "rank", "doc_id", "url", "score"
    )
