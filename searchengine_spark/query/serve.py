"""Spark-free interactive serving over the Spark-built index.

Spark is the right engine for the BUILD (partition-parallel over 10^12
docs) and for BATCH query evaluation (225 queries/job), but an
interactive query pays Spark's multi-stage scheduling floor (~0.8 s in
local mode). Real web-search systems split exactly here: offline
index build vs online serving tier. This module is that serving tier —
the index layout is plain parquet, so a query needs only:

  * lexicon probe with a `term IN (…)` pyarrow filter (row-group
    min/max pruning over the term-sorted files = the reference's vocab
    binary search, DiskInvertedIndex.java:129-167),
  * posting-block fetch with the same pushdown (stats columns + blobs),
  * numpy varbyte decode + accumulate + argpartition top-k,
  * doc-metadata fetch for the ≤k winners via a doc_id range filter
    (doc_ids are monotone across the url-sorted docs files).

Scores are float-identical to the Spark path up to summation order
(tested rank-identical). At web scale this object maps onto one serving
shard; sharding = the same bucket ranges the index is partitioned by.
"""

from __future__ import annotations

import json
import os
import threading
from collections import Counter

import numpy as np

import pyarrow.compute as pc
import pyarrow.dataset as ds

from ..index.varbyte import decode_position_lists, decode_sorted, vb_decode
from . import scoring
from .exec import expand_ranked_query


class LocalIndexReader:
    # doc-metadata arrays stay in RAM up to this many docs (_load_docs_ram)
    DOCS_RAM_CAP = 2_000_000

    def __init__(self, path: str, cache_blocks: int = 65536) -> None:
        from ..index.compact import recover_compaction

        # repair a crashed compaction swap before touching the layout
        recover_compaction(path)
        self.path = path
        self.postings = ds.dataset(os.path.join(path, "postings"))
        self.lexicon = ds.dataset(os.path.join(path, "lexicon"))
        self.docs = ds.dataset(os.path.join(path, "docs"))
        self.meta = json.load(open(os.path.join(path, "_manifests", "meta.json")))
        # hot-block posting cache (decoded doc/tf/dl arrays keyed by
        # (term, bucket)) — the RAM cache a real serving shard keeps;
        # block granularity so pruned queries only ever decode the
        # buckets they touch
        self._cache_cap = cache_blocks
        self._block_cache: dict[tuple[str, int], tuple] = {}
        # mutation lock for the block cache: lookups stay lock-free (dict
        # reads are atomic under the GIL; a stale miss just refetches),
        # but the evict-victim scan iterates the dict and a concurrent
        # insert would raise "dict changed size during iteration", and
        # two threads picking the same victim would KeyError on pop
        self._cache_lock = threading.Lock()
        # lazily-built RAM structures (what a real serving shard keeps
        # hot): full lexicon dict, per-term block-max stats, and — below
        # the size gate — the doc-metadata arrays for winner lookups
        self._lexicon_ram: dict[str, int] | None = None
        self._stats_cache: dict[str, tuple] = {}
        self._docs_ram: tuple | None = None
        self._rg: list[tuple] | None = None

    # -- lookups -----------------------------------------------------------
    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """term → df via the RAM lexicon (loaded once — the serving-shard
        analogue of the reference's in-memory vocab table). A web-scale
        shard's lexicon is millions of terms ≈ hundreds of MB: RAM-sized
        by design."""
        if self._lexicon_ram is None:
            t = self.lexicon.to_table(columns=["term", "df"])
            self._lexicon_ram = dict(
                zip(t["term"].to_pylist(), t["df"].to_pylist())
            )
        lex = self._lexicon_ram
        return {t: lex[t] for t in terms if t in lex}

    def _rg_index(self) -> list[dict]:
        """Row-group interval index over the postings files, one record
        per fragment with COLUMNAR numpy stats arrays, built once from
        parquet footer statistics. This is the serving tier's 'vocab
        binary search' (DiskInvertedIndex.java:129-167) made physical: a
        term fetch opens ONLY the row groups whose term interval matches.
        Postings files are written (term, bucket)-sorted with 1 MiB row
        groups, so within a file both term_min and term_max are
        non-decreasing and the row groups matching a term form one
        contiguous run — found by TWO binary searches per (term, file)
        instead of the pre-round-3 linear walk over every entry × every
        term (O(10⁶) Python steps per query on a big shard). Sortedness
        is VERIFIED per fragment; unsorted or stat-less fragments (e.g.
        foreign files) fall back to the linear walk, so correctness never
        rests on the layout claim."""
        if self._rg is None:
            frags = []
            for frag in self.postings.get_fragments():
                tmin, tmax, bmin, bmax, ids = [], [], [], [], []
                for info in frag.row_groups:
                    st = info.statistics or {}
                    t = st.get("term", {})
                    b = st.get("bucket", {})
                    tmin.append(t.get("min"))
                    tmax.append(t.get("max"))
                    bmin.append(b.get("min"))
                    bmax.append(b.get("max"))
                    ids.append(info.id)
                rec = {
                    "frag": frag,
                    "ids": np.asarray(ids, dtype=np.int64),
                    "n": len(ids),
                }
                complete = all(x is not None for x in tmin) and all(
                    x is not None for x in tmax
                )
                if complete:
                    a_tmin = np.asarray(tmin, dtype=object)
                    a_tmax = np.asarray(tmax, dtype=object)
                    rec["sorted"] = bool(
                        np.all(a_tmin[1:] >= a_tmin[:-1])
                        and np.all(a_tmax[1:] >= a_tmax[:-1])
                    ) if len(ids) > 1 else True
                    rec["tmin"], rec["tmax"] = a_tmin, a_tmax
                else:
                    rec["sorted"] = False
                    rec["tmin"] = np.asarray(tmin, dtype=object)
                    rec["tmax"] = np.asarray(tmax, dtype=object)
                if all(x is not None for x in bmin) and all(
                    x is not None for x in bmax
                ):
                    rec["bmin"] = np.asarray(bmin, dtype=np.int64)
                    rec["bmax"] = np.asarray(bmax, dtype=np.int64)
                frags.append(rec)
            self._rg = frags
        return self._rg

    def _fetch(
        self,
        columns: list[str],
        terms: list[str],
        buckets: list[int] | None = None,
    ):
        """Row-group-pruned fetch of posting blocks for the given terms."""
        import pyarrow as pa

        filt = pc.field("term").isin(terms)
        if buckets is not None:
            filt = filt & pc.field("bucket").isin(buckets)
            b_sorted = np.asarray(sorted(set(buckets)), dtype=np.int64)
        idx = self._rg_index()
        by_frag: list[tuple] = []
        n_match = 0
        n_total = 0
        for rec in idx:
            n = rec["n"]
            n_total += n
            sel = np.zeros(n, dtype=bool)
            if rec["sorted"]:
                tmin, tmax = rec["tmin"], rec["tmax"]
                for t in terms:
                    # contiguous run [a, b): first rg whose max ≥ t .. last
                    # rg whose min ≤ t (both arrays non-decreasing)
                    a = int(np.searchsorted(tmax, t, side="left"))
                    b = int(np.searchsorted(tmin, t, side="right"))
                    if b > a:
                        sel[a:b] = True
            else:
                for i, (tmn, tmx) in enumerate(zip(rec["tmin"], rec["tmax"])):
                    # a row group missing EITHER stat is conservatively
                    # included (ADVICE r3: tmn set + tmx missing used to
                    # TypeError instead of matching)
                    if tmn is None or tmx is None or any(
                        tmn <= t <= tmx for t in terms
                    ):
                        sel[i] = True
            if buckets is not None and "bmin" in rec and sel.any():
                # rg matches iff some requested bucket ∈ [bmin, bmax]
                pos = np.searchsorted(b_sorted, rec["bmin"])
                ok = (pos < b_sorted.size) & (
                    b_sorted[np.minimum(pos, b_sorted.size - 1)] <= rec["bmax"]
                )
                sel &= ok
            k = int(sel.sum())
            if k:
                n_match += k
                by_frag.append((rec["frag"], rec["ids"][sel].tolist()))
        if not by_frag:
            return pa.table(
                {
                    c: pa.array([], type=self.postings.schema.field(c).type)
                    for c in columns
                }
            )
        # selectivity gate: when most row groups match anyway, the plain
        # multithreaded dataset scan beats per-query dataset assembly
        if n_match > 0.25 * n_total:
            return self.postings.to_table(columns=columns, filter=filt)
        # one subset fragment per file (matched row groups only),
        # scanned as a single dataset so reads stay multithreaded
        subsets = [frag.subset(row_group_ids=ids) for frag, ids in by_frag]
        return ds.FileSystemDataset(
            subsets, self.postings.schema, ds.ParquetFileFormat()
        ).to_table(columns=columns, filter=filt)

    def _blocks(self, terms: list[str], buckets: list[int] | None = None):
        return self._fetch(
            ["term", "bucket", "docs_vb", "tfs_vb", "dls_vb"], terms, buckets
        )

    def _block_stats(self, terms: list[str]) -> dict[str, tuple]:
        """Per-term block-max metadata — stats columns only, the posting
        blobs stay on disk (parquet column pruning), cached per term in
        RAM: the ``max_tf``/``min_dl``/``min_ld`` written by
        index/build.py. Returns term → (buckets, max_tf, min_dl, min_ld)
        numpy arrays."""
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            t = self._fetch(
                ["term", "bucket", "max_tf", "min_dl", "min_ld"], missing
            )
            tl = t["term"].to_pylist()
            b = t["bucket"].to_numpy()
            mt = t["max_tf"].to_numpy().astype(np.float64)
            md = t["min_dl"].to_numpy().astype(np.float64)
            ml = t["min_ld"].to_numpy().astype(np.float64)
            grouped: dict[str, list[int]] = {m: [] for m in missing}
            for i, term in enumerate(tl):
                grouped[term].append(i)
            for term in missing:
                ix = np.asarray(grouped[term], dtype=np.int64)
                self._stats_cache[term] = (
                    b[ix].astype(np.int64), mt[ix], md[ix], ml[ix]
                )
        return {t: self._stats_cache[t] for t in terms}

    def _load_docs_ram(self) -> tuple | None:
        """Doc-metadata arrays (doc_id-sorted) for O(log n) winner
        lookups — loaded once when the shard fits the RAM gate
        (``DOCS_RAM_CAP``, 2M docs). Above the gate a
        web-scale deployment shards the doc store; the pyarrow scan
        fallback below keeps this reader correct at any size."""
        if self._docs_ram is None:
            n = int(self.meta["n_docs"])
            if n > self.DOCS_RAM_CAP:
                self._docs_ram = ()  # sentinel: too big, use scans
            else:
                t = self.docs.to_table(columns=["doc_id", "url", "dl", "ld"])
                ids = t["doc_id"].to_numpy()
                order = np.argsort(ids)
                self._docs_ram = (
                    ids[order],
                    np.asarray(t["url"].to_pylist(), dtype=object)[order],
                    t["dl"].to_numpy()[order],
                    t["ld"].to_numpy().astype(np.float64)[order],
                )
        return self._docs_ram or None

    def _doc_meta(self, doc_ids: np.ndarray) -> dict[int, tuple]:
        """Metadata for the ≤k winners only — RAM arrays when resident,
        else an isin filter that row-group-prunes the docs scan."""
        if doc_ids.size == 0:
            return {}
        ram = self._load_docs_ram()
        if ram is not None:
            ids, urls, dls, lds = ram
            pos = np.searchsorted(ids, doc_ids)
            return {
                int(d): (urls[p], int(dls[p]), float(lds[p]))
                for d, p in zip(doc_ids, pos)
            }
        t = self.docs.to_table(
            columns=["doc_id", "url", "dl", "ld"],
            filter=pc.field("doc_id").isin([int(d) for d in doc_ids]),
        )
        return {
            d: (u, dl, ld)
            for d, u, dl, ld in zip(
                t["doc_id"].to_pylist(),
                t["url"].to_pylist(),
                t["dl"].to_pylist(),
                t["ld"].to_pylist(),
            )
        }

    def _doc_norms(self, col: str, doc_ids: np.ndarray) -> np.ndarray:
        """Vector of dl or ld aligned with doc_ids (candidate set) —
        tfidf parity mode only; BM25 reads dl off the posting blocks."""
        ram = self._load_docs_ram()
        if ram is not None:
            ids, _, dls, lds = ram
            pos = np.searchsorted(ids, doc_ids)
            vals = dls if col == "dl" else lds
            return vals[pos].astype(np.float64)
        lo, hi = int(doc_ids.min()), int(doc_ids.max())
        t = self.docs.to_table(
            columns=["doc_id", col],
            filter=(pc.field("doc_id") >= lo) & (pc.field("doc_id") <= hi),
        )
        ids = t["doc_id"].to_numpy()
        vals = t[col].to_numpy().astype(np.float64)
        order = np.argsort(ids)
        pos = np.searchsorted(ids[order], doc_ids)
        return vals[order][pos]

    def _get_blocks(
        self, pairs: list[tuple[str, int]]
    ) -> dict[tuple[str, int], tuple]:
        """Decoded (term, bucket) posting blocks for EVERY requested pair,
        cache-backed. A (term, bucket) may map to SEVERAL physical block
        rows (chunked / streaming / zero-shuffle segment builds split at
        partition boundaries) — they are concatenated and docID-sorted, so
        an entry is the logical bucket.

        Eviction pins the CURRENT request's keys: a query touching more
        logical blocks than the cache holds must never evict blocks it
        fetched earlier in the same call (that silently dropped postings
        pre-round-3); oversized requests are served uncached instead. A
        requested pair absent from both cache and storage raises KeyError
        — stats said it exists, so silence would mean wrong results."""
        out: dict[tuple[str, int], tuple] = {}
        missing: list[tuple[str, int]] = []
        for p in pairs:
            e = self._block_cache.get(p)
            if e is not None:
                out[p] = e
            else:
                missing.append(p)
        if not missing:
            return out
        tbl = self._blocks(
            sorted({t for t, _ in missing}), sorted({b for _, b in missing})
        )
        missing_set = set(missing)
        fresh: dict[tuple[str, int], list] = {}
        for term, bucket, dvb, tvb, lvb in zip(
            tbl["term"].to_pylist(),
            tbl["bucket"].to_pylist(),
            tbl["docs_vb"].to_pylist(),
            tbl["tfs_vb"].to_pylist(),
            tbl["dls_vb"].to_pylist(),
        ):
            key = (term, int(bucket))
            if key not in missing_set:
                continue
            fresh.setdefault(key, []).append(
                (
                    decode_sorted(dvb),
                    vb_decode(tvb).astype(np.float64),
                    vb_decode(lvb).astype(np.float64),
                )
            )
        request_keys = set(pairs)
        for key in missing:
            parts = fresh.get(key)
            if parts is None:
                raise KeyError(
                    f"posting block {key!r} listed in stats but absent from "
                    "storage — index corrupt or mutated under the reader"
                )
            if len(parts) == 1:
                entry = parts[0]
            else:
                d = np.concatenate([p[0] for p in parts])
                order = np.argsort(d, kind="stable")
                entry = (
                    d[order],
                    np.concatenate([p[1] for p in parts])[order],
                    np.concatenate([p[2] for p in parts])[order],
                )
            out[key] = entry
            with self._cache_lock:
                if len(self._block_cache) >= self._cache_cap:
                    evict = next(
                        (k for k in self._block_cache if k not in request_keys),
                        None,
                    )
                    if evict is None:
                        continue  # request bigger than the cache: serve uncached
                    self._block_cache.pop(evict, None)
                self._block_cache[key] = entry
        return out

    def _decoded_terms(
        self, terms: list[str], term_buckets: dict[str, list[int]]
    ) -> list[tuple]:
        """[(term, doc_ids, tfs, dls)] concatenated over the given buckets
        in bucket (= docID) order."""
        blocks = self._get_blocks(
            [(t, b) for t in terms for b in term_buckets.get(t, ())]
        )
        out = []
        for t in terms:
            parts = [
                blocks[(t, b)] for b in sorted(term_buckets.get(t, ()))
            ]
            if parts:
                out.append(
                    (
                        t,
                        np.concatenate([p[0] for p in parts]),
                        np.concatenate([p[1] for p in parts]),
                        np.concatenate([p[2] for p in parts]),
                    )
                )
        return out

    def _score_decoded(
        self,
        decoded: list[tuple],
        wqt: dict[str, float],
        scorer: str,
        avgdl: float,
    ) -> tuple[np.ndarray, np.ndarray]:
        """(uniq_doc_ids, scores) for the decoded per-term posting arrays.
        Scores are EXACT — the same term-major accumulation order as the
        unpruned path, so pruned and full evaluation are bit-identical.
        ``avgdl`` is the shard-local value, or the GLOBAL one under
        sharded serving."""
        docs_cat = np.concatenate([d for _, d, _, _ in decoded])
        uniq, inv = np.unique(docs_cat, return_inverse=True)
        # one buffered bincount beats per-term np.add.at (unbuffered
        # scatter) by ~10x on stopword-sized candidate sets; bm25 reads dl
        # decoded alongside the posting — no docs scan at all
        partials = np.concatenate(
            [
                wqt[term] * scoring.tf_part(scorer, tf, dl, avgdl)
                for term, _, tf, dl in decoded
            ]
        )
        scores = np.bincount(inv, weights=partials, minlength=uniq.size)
        if scorer == "tfidf_ref":
            scores = scores / self._doc_norms("ld", uniq)
        return uniq, scores

    def _bucket_bounds(
        self, terms_sorted: list[str], wqt: dict[str, float], scorer: str, avgdl: float
    ) -> tuple[np.ndarray, np.ndarray, dict[str, list[int]]]:
        """(buckets, UB per bucket, term → its buckets) from the block-max
        stats (RAM-cached per term). UB(bucket) = Σ_t wqt_t·tf_part at the
        block extrema, over the same float ops as ``_score_decoded`` — for
        tfidf_ref the Σ is divided by the least Ld among the bucket's
        blocks — so it bounds every doc score in the bucket."""
        by_term = self._block_stats(terms_sorted)
        parts = [(t, *by_term[t]) for t in terms_sorted if by_term[t][0].size]
        if not parts:
            return np.empty(0, np.int64), np.empty(0), {}
        st_bucket = np.concatenate([p[1] for p in parts])
        max_tf = np.concatenate([p[2] for p in parts])
        min_dl = np.concatenate([p[3] for p in parts])
        wqt_row = np.concatenate([np.full(p[1].size, wqt[p[0]]) for p in parts])
        # sorted+deduped: a (term,bucket) can span several physical block
        # rows — the UB sum then counts that term's contribution once per
        # row (still a valid upper bound) but decode must touch the
        # logical bucket exactly once
        term_buckets = {p[0]: sorted({int(b) for b in p[1]}) for p in parts}
        ub_bucket, binv = np.unique(st_bucket, return_inverse=True)
        contrib = wqt_row * scoring.tf_part(scorer, max_tf, min_dl, avgdl)
        ub = np.bincount(binv, weights=contrib, minlength=ub_bucket.size)
        if scorer == "tfidf_ref":
            ld_min = np.full(ub_bucket.size, np.inf)
            np.minimum.at(ld_min, binv, np.concatenate([p[4] for p in parts]))
            ub = ub / ld_min
        return ub_bucket, ub, term_buckets

    # -- ranked ------------------------------------------------------------
    def ranked_topk(
        self,
        query: str,
        k: int = 20,
        scorer: str = "bm25",
        prune: bool = True,
        probe: int = 4,
        stats: dict | None = None,
        ext_stats: tuple | None = None,
    ) -> list[dict]:
        """Block-max pruned top-k (exact; identical to full evaluation).

        Bucket-grained block-max WAND over numpy:
        UB(bucket) = Σ_t wqt_t·maxcontrib_t(bucket) bounds every doc score
        in the bucket, so buckets with UB < θ (k-th best score from the
        ``probe`` most-promising buckets) never need their blobs read or
        decoded. Replaces the reference's UNSAFE 3-tier early termination
        (TieredRankedQueryParser.java:143-152) with exact pruning.

        ``ext_stats`` = (n_docs, avgdl, {term: df}) overrides the
        shard-local corpus statistics — sharded serving passes the GLOBAL
        values so a document's score is independent of the shard layout
        (query/sharded.py); terms the shard lacks simply contribute no
        blocks."""
        terms = expand_ranked_query(query)
        if not terms:
            return []
        mult = Counter(terms)
        if ext_stats is None:
            dfs = self.term_stats(sorted(mult))
            n = float(self.meta["n_docs"])
            avgdl_v = float(self.meta["avgdl"])
        else:
            g_n, g_avgdl, g_dfs = ext_stats
            n = float(g_n)
            avgdl_v = float(g_avgdl)
            dfs = {t: g_dfs[t] for t in mult if g_dfs.get(t)}
        if not dfs:
            return []
        wqt = {t: scoring.wqt(scorer, n, df, mult[t]) for t, df in dfs.items()}
        terms_sorted = sorted(wqt)
        ub_bucket, ub, term_buckets = self._bucket_bounds(
            terms_sorted, wqt, scorer, avgdl_v
        )
        if not ub_bucket.size:
            return []

        if not prune or ub_bucket.size <= probe:
            decoded = self._decoded_terms(terms_sorted, term_buckets)
            if not decoded:
                return []
            uniq, scores = self._score_decoded(decoded, wqt, scorer, avgdl_v)
            if stats is not None:
                stats.update(
                    n_buckets=int(ub_bucket.size), probed=int(ub_bucket.size),
                    survivors=0, pruned=0,
                )
            return self._emit_topk(uniq, scores, k)

        # 1) probe the most-promising buckets → θ
        order = np.lexsort((ub_bucket, -ub))
        probe_set = set(int(b) for b in ub_bucket[order[:probe]])
        tb_probe = {
            t: [b for b in bs if b in probe_set] for t, bs in term_buckets.items()
        }
        decoded = self._decoded_terms(terms_sorted, tb_probe)
        uniq_p, scores_p = (
            self._score_decoded(decoded, wqt, scorer, avgdl_v)
            if decoded
            else (np.empty(0, np.int64), np.empty(0))
        )
        if uniq_p.size >= k:
            theta = np.sort(scores_p)[-k]
        else:
            theta = -np.inf

        # 2) exact-evaluate only survivors: UB >= θ (>= not >: a bucket
        # with UB == θ can still hold a doc tying the k-th score and
        # winning the doc_id-asc tiebreak)
        surv_mask = ub >= theta
        surv = [
            int(b) for b in ub_bucket[surv_mask] if int(b) not in probe_set
        ]
        if stats is not None:
            stats.update(
                n_buckets=int(ub_bucket.size),
                probed=len(probe_set),
                survivors=len(surv),
                pruned=int(ub_bucket.size) - len(surv) - len(probe_set),
                theta=float(theta),
            )
        if surv:
            surv_set = set(surv)
            tb_surv = {
                t: [b for b in bs if b in surv_set]
                for t, bs in term_buckets.items()
            }
            decoded_s = self._decoded_terms(terms_sorted, tb_surv)
            if decoded_s:
                uniq_s, scores_s = self._score_decoded(
                    decoded_s, wqt, scorer, avgdl_v
                )
                # buckets partition docID space → the two doc sets are
                # disjoint; concatenation is a clean union
                uniq_p = np.concatenate([uniq_p, uniq_s])
                scores_p = np.concatenate([scores_p, scores_s])
        if uniq_p.size == 0:
            return []
        return self._emit_topk(uniq_p, scores_p, k)

    def _emit_topk(
        self, uniq: np.ndarray, scores: np.ndarray, k: int
    ) -> list[dict]:
        k = min(k, uniq.size)
        # exact (score desc, doc_id asc) order — lexsort keeps score ties
        # deterministic, matching the Spark path's tiebreak
        top = np.lexsort((uniq, -scores))[:k]
        meta = self._doc_meta(uniq[top])
        return [
            {
                "doc_id": int(uniq[i]),
                "url": meta[int(uniq[i])][0],
                "score": float(scores[i]),
            }
            for i in top
        ]

    # -- boolean -----------------------------------------------------------
    def boolean_query(self, query: str) -> list[dict]:
        """Boolean/phrase queries on the serving tier: the SAME planner as
        the Spark path (query/boolean.BooleanPlanner — reference-exact
        semantics), driven by a numpy backend: docID merges are
        np.isin/intersect1d set ops over sorted int64 arrays (a stopword
        boolean on a 2M-doc shard never materializes per-row Python
        objects — the pre-round-3 OracleBackend walk did); position-list
        merges happen only inside phrase branches, and positions decode
        lazily per term only when a phrase branch needs them. Returns
        [{'doc_id', 'url'}] doc_id-asc — the reference's result shape."""
        from .boolean import BooleanPlanner, _RecordingBackend

        rec = _RecordingBackend()
        BooleanPlanner(rec).execute(query)
        terms = sorted(t for t in rec.terms if t)
        index: dict[str, _TermPostings] = {}
        if terms:
            t = self._fetch(["term", "docs_vb", "tfs_vb", "pos_vb"], terms)
            parts: dict[str, list] = {}
            for term, dvb, tvb, pvb in zip(
                t["term"].to_pylist(),
                t["docs_vb"].to_pylist(),
                t["tfs_vb"].to_pylist(),
                t["pos_vb"].to_pylist(),
            ):
                parts.setdefault(term, []).append(
                    (decode_sorted(dvb), vb_decode(tvb), pvb)
                )
            index = {tm: _TermPostings(ps) for tm, ps in parts.items()}
        plist = BooleanPlanner(_NumpyBooleanBackend(index)).execute(query)
        if plist is None or plist[0].size == 0:
            return []
        doc_ids = plist[0]  # merges keep docID-ascending order
        meta = self._doc_meta(doc_ids)
        return [{"doc_id": int(d), "url": meta[int(d)][0]} for d in doc_ids]


class _TermPostings:
    """One term's serving-tier postings: docID-sorted int64 array eagerly,
    position lists decoded lazily (only phrase branches pay for them).
    Multiple physical blocks (chunk/segment splits) concatenate; the doc
    sort order is remembered so lazy positions align."""

    __slots__ = ("docs", "_order", "_parts", "_pos")

    def __init__(self, parts: list[tuple]) -> None:
        if len(parts) == 1:
            d = parts[0][0]
            self._order = None
        else:
            d = np.concatenate([p[0] for p in parts])
            self._order = np.argsort(d, kind="stable")
            d = d[self._order]
        self.docs = d.astype(np.int64, copy=False)
        self._parts = parts
        self._pos = None

    def positions(self) -> list[np.ndarray]:
        if self._pos is None:
            plists: list[np.ndarray] = []
            for d, tf, pvb in self._parts:
                plists.extend(decode_position_lists(pvb, tf))
            if self._order is not None:
                plists = [plists[i] for i in self._order]
            self._pos = plists
        return self._pos


class _NumpyBooleanBackend:
    """Planner backend (J1-J4 merges) over numpy set ops. A plist is
    ``(docs: sorted unique int64 array, pos: list[ndarray]|None aligned)``
    — exactly the oracle backend's [(doc_id, positions|None)] shape,
    columnarized. Semantics mirror oracle/boolmodel.OracleBackend (same
    planner drives both; test_serve.py asserts result identity)."""

    def __init__(self, index: dict[str, _TermPostings]) -> None:
        self._idx = index

    def lookup(self, term: str, with_positions: bool):
        ent = self._idx.get(term)
        if ent is None or ent.docs.size == 0:
            # absent from the fetch == absent from the index (term filter
            # returned nothing) — the planner's None semantics
            return None if ent is None else (ent.docs, None)
        return (ent.docs, ent.positions() if with_positions else None)

    def and_merge(self, a, b):  # J1: keep a's positions
        da, pa = a
        mask = np.isin(da, b[0], assume_unique=True)
        return (
            da[mask],
            [pa[i] for i in np.flatnonzero(mask)] if pa is not None else None,
        )

    def or_merge(self, a, b):  # J2: a's positions win on ties
        da, pa = a
        db, pb = b
        new = ~np.isin(db, da, assume_unique=True)
        docs = np.concatenate([da, db[new]])
        order = np.argsort(docs, kind="stable")
        pos = None
        if pa is not None or pb is not None:
            pos = list(pa) if pa is not None else [None] * da.size
            if pb is not None:
                pos += [pb[i] for i in np.flatnonzero(new)]
            else:
                pos += [None] * int(new.sum())
            pos = [pos[i] for i in order]
        return (docs[order], pos)

    def andnot(self, a, b):  # J3
        da, pa = a
        mask = ~np.isin(da, b[0], assume_unique=True)
        return (
            da[mask],
            [pa[i] for i in np.flatnonzero(mask)] if pa is not None else None,
        )

    def phrase_merge(self, a, b, k: int):  # J4: a's positions p with p+k in b
        da, pa = a
        db, pb = b
        common, ia, ib = np.intersect1d(
            da, db, assume_unique=True, return_indices=True
        )
        docs_out, pos_out = [], []
        for d, i, j in zip(common, ia, ib):
            ps = pa[i] if pa is not None else None
            if ps is None or pb is None or pb[j] is None:
                continue  # oracle: entries without positions can't extend
            hits = ps[np.isin(ps + k, pb[j], assume_unique=True)]
            if hits.size:
                docs_out.append(d)
                pos_out.append(hits)
        return (np.asarray(docs_out, dtype=np.int64), pos_out)

    def is_empty(self, p) -> bool:
        return p[0].size == 0
