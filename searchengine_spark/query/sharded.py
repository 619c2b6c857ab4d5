"""Sharded serving: fan-out over doc-range shards with GLOBAL statistics.

At web scale one `LocalIndexReader` is one serving shard over a doc_id
range; shards are built independently (different executors, days, or
clusters) with ``IndexBuilder(id_base=...)`` giving each a disjoint,
bucket-aligned id range. The part that is easy to get wrong — and that
this module exists to get right — is STATISTICS: BM25's term weight
depends on (N, df) and its length norm on avgdl, so scoring each shard
with its own local stats would make a document's score depend on the
shard layout (and drift as shards rebalance). The sharded reader
therefore:

  * aggregates global N = Σ n_i and avgdl = Σ total_dl_i / N once at
    open (exact — NOT an average of per-shard averages, which weights
    small shards wrongly),
  * per query, sums df over the shard RAM lexicons,
  * passes (N, avgdl, df) into each shard's evaluation
    (``LocalIndexReader.ranked_topk(ext_stats=...)``), where the shard
    runs its normal exact block-max-pruned top-k; terms a shard lacks
    contribute no blocks there,
  * merges per-shard top-k lists by (score desc, doc_id asc).

Because every document lives in exactly one shard and each shard's
pruned evaluation is exact, the union of per-shard top-k lists contains
the global top-k, and per-doc scores are BIT-IDENTICAL to a single
unsharded index over the same corpus (asserted float-exact in
tests/test_sharded_serve.py). Boolean/phrase queries are doc-local —
membership depends only on the terms a document itself contains — so
the sharded result is the doc_id-sorted concatenation of shard results.

Shard fan-out runs on a thread pool: each shard touches its own pyarrow
datasets and numpy decode (GIL-releasing I/O + kernels), which is the
same overlap a real serving root gets from issuing shard RPCs in
parallel. This is the reference's single-process query loop
(Milestone2 SearchEngine.java main loop) re-expressed as the root/leaf
architecture a 10^12-doc corpus forces.
"""

from __future__ import annotations

from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from . import scoring
from .exec import expand_ranked_query
from .serve import LocalIndexReader


def _shard_ub(
    reader: LocalIndexReader, wqt: dict[str, float], scorer: str, avgdl: float
) -> float:
    """Upper bound on any single document's score inside one shard:
    Σ_t max over the shard's (term,bucket) block stats of that term's
    best per-doc contribution — the same max_tf/min_dl/min_ld block-max
    stats the shard's own bucket pruning uses (RAM-cached after first
    touch, so this costs a few numpy maxes per query)."""
    by_term = reader._block_stats(sorted(wqt))
    total = 0.0
    for t, (bkt, max_tf, min_dl, min_ld) in by_term.items():
        if not bkt.size:
            continue
        contrib = wqt[t] * scoring.tf_part(scorer, max_tf, min_dl, avgdl)
        if scorer == "tfidf_ref":
            contrib = contrib / min_ld
        total += float(contrib.max())
    return total


class ShardedIndexReader:
    """Serving root over N doc-range shards (each a LocalIndexReader)."""

    def __init__(
        self,
        paths: list[str],
        cache_blocks: int = 65536,
        max_workers: int | None = None,
    ) -> None:
        if not paths:
            raise ValueError("ShardedIndexReader needs at least one shard")
        self.shards = [LocalIndexReader(p, cache_blocks=cache_blocks) for p in paths]
        # doc_id ranges must be disjoint or merged results silently alias
        # documents. Each shard is dense from its id_base (density-net
        # enforced at build), so [id_base, id_base + n_docs) is exact;
        # pre-id_base indexes default to base 0 — two of those genuinely
        # DO collide, and refusing them here is the correct outcome.
        spans = sorted(
            (int(s.meta.get("id_base", 0)), int(s.meta["n_docs"]), s.path)
            for s in self.shards
        )
        for (b0, n0, p0), (b1, _, p1) in zip(spans, spans[1:]):
            if b0 + n0 > b1:
                raise ValueError(
                    f"shard doc_id ranges overlap: {p0} owns [{b0}, {b0 + n0}) "
                    f"but {p1} starts at {b1} — rebuild with disjoint "
                    "id_base values (index/sharding.py computes them)"
                )
        self.n_docs = sum(int(s.meta["n_docs"]) for s in self.shards)
        total_dl = sum(int(s.meta["total_dl"]) for s in self.shards)
        self.avgdl = total_dl / max(self.n_docs, 1)
        self._wave = max_workers or min(len(self.shards), 16)
        self._pool = ThreadPoolExecutor(max_workers=self._wave)

    # -- global stats -------------------------------------------------------
    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """term → GLOBAL df (sum over shard lexicons; absent terms omitted)."""
        out: dict[str, int] = {}
        for s in self.shards:
            for t, df in s.term_stats(terms).items():
                out[t] = out.get(t, 0) + int(df)
        return out

    # -- queries ------------------------------------------------------------
    def ranked_topk(
        self,
        query: str,
        k: int = 20,
        scorer: str = "bm25",
        prune: bool = True,
        probe: int = 4,
        shard_prune: bool = True,
        stats: dict | None = None,
    ) -> list[dict]:
        """Exact global top-k with SHARD-LEVEL pruning on top of each
        shard's block-max pruning: shards are evaluated in waves (pool
        width) in descending shard-UB order, where a shard's UB sums
        each term's best possible per-doc contribution over that shard's
        block-max stats — a true upper bound on any of its scores. After
        each wave θ = current k-th best; remaining shards with UB < θ
        are skipped (strict <: a UB == θ shard can still tie and win the
        doc_id-asc tiebreak). At 1000 shards a selective query touches
        the few shards that can matter — the distributed analogue of
        the bucket-level pruning inside each shard. Exactness is
        asserted shard_prune=True ≡ False ≡ single index in tests."""
        mult = Counter(expand_ranked_query(query))
        dfs = self.term_stats(sorted(mult))
        if not dfs:
            return []
        ext = (self.n_docs, self.avgdl, dfs)
        n = float(self.n_docs)
        wqt = {t: scoring.wqt(scorer, n, df, mult[t]) for t, df in dfs.items()}

        order = list(range(len(self.shards)))
        ubs = None
        if shard_prune:
            ub_futs = [
                self._pool.submit(_shard_ub, s, wqt, scorer, self.avgdl)
                for s in self.shards
            ]
            ubs = [f.result() for f in ub_futs]
            order.sort(key=lambda i: -ubs[i])

        rows: list[dict] = []
        theta = -np.inf
        evaluated = skipped = 0
        wave = self._wave
        for w0 in range(0, len(order), wave):
            batch = [
                i
                for i in order[w0 : w0 + wave]
                if not (shard_prune and ubs[i] < theta)
            ]
            futs = [
                self._pool.submit(
                    self.shards[i].ranked_topk,
                    query,
                    k=k,
                    scorer=scorer,
                    prune=prune,
                    probe=probe,
                    ext_stats=ext,
                )
                for i in batch
            ]
            skipped += len(order[w0 : w0 + wave]) - len(batch)
            evaluated += len(batch)
            for f in futs:
                rows.extend(f.result())
            if shard_prune and len(rows) >= k:
                theta = np.sort(np.asarray([r["score"] for r in rows]))[-k]
        if stats is not None:
            stats.update(
                n_shards=len(self.shards),
                evaluated=evaluated,
                skipped=skipped,
                shard_ubs=ubs,
                theta=None if theta == -np.inf else float(theta),
            )
        if not rows:
            return []
        scores = np.asarray([r["score"] for r in rows])
        ids = np.asarray([r["doc_id"] for r in rows])
        top = np.lexsort((ids, -scores))[: min(k, len(rows))]
        return [rows[i] for i in top]

    def boolean_query(self, query: str) -> list[dict]:
        futs = [self._pool.submit(s.boolean_query, query) for s in self.shards]
        rows = [r for f in futs for r in f.result()]
        rows.sort(key=lambda r: r["doc_id"])
        return rows
