"""Driver-side NumPy/pure-Python oracle of the reference engine semantics
(SURVEY.md §5 item 2). Used ONLY by tests — never a Spark execution path.

Builds the exact positional index the reference would (via the golden-
validated tokenizer replay) over a pandas corpus, assigns doc_ids the way
the engine does (0-based dense in url order), and answers ranked queries
with the reference's accumulation order — term-at-a-time, postings in
docID order (RankedQueryParser.java:69-134) — so float64 scores are
bit-comparable with the reference and tolerance-comparable with Spark's
unordered sums.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pandas as pd

from ..query.exec import expand_ranked_query
from ..query.scoring import BM25_B, BM25_K1
from ..text.tokenizer import build_positional_index


@dataclass
class OracleIndex:
    n_docs: int
    index: dict  # term -> [(doc_id, [pos...]), ...] docID-ascending
    ld: dict  # doc_id -> float
    dl: dict = field(default_factory=dict)  # doc_id -> Σ tf
    urls: dict = field(default_factory=dict)  # doc_id -> url

    @property
    def avgdl(self) -> float:
        return sum(self.dl.values()) / max(self.n_docs, 1)


def build_oracle_index(
    pages: pd.DataFrame, order: list[str] | None = None
) -> OracleIndex:
    """pages: DataFrame with url + text columns. doc_id = rank in url
    order (the engine's documented walk order, SURVEY §1.1) — or, for
    differential replay, the EXACT file-walk order the Java engine used
    (pass ``order``): heap/HashMap tie-breaking depends on the docID
    permutation, and the reference's filesystem walk is readdir order,
    which changes when ext4 converts a directory to htree."""
    if order is not None:
        ordered = pages.set_index("url").loc[order].reset_index()
    else:
        ordered = pages.sort_values("url").reset_index(drop=True)
    docs = list(enumerate(ordered["text"].tolist()))
    index, weights = build_positional_index(docs)
    dl = {d: 0 for d, _ in docs}
    for plist in index.values():
        for d, ps in plist:
            dl[d] += len(ps)
    return OracleIndex(
        n_docs=len(docs),
        index=index,
        ld=weights,
        dl=dl,
        urls=dict(enumerate(ordered["url"].tolist())),
    )


def ranked_topk_oracle(
    oidx: OracleIndex, query: str, k: int = 20, scorer: str = "tfidf_ref"
) -> list[tuple[int, float]]:
    """Returns [(doc_id, score)] sorted (score desc, doc_id asc), length ≤ k.
    Accumulation replays the reference loop order exactly."""
    terms = expand_ranked_query(query)
    acc: dict[int, float] = {}
    n = float(oidx.n_docs)
    for term in terms:  # term-at-a-time, duplicates accumulate again
        plist = oidx.index.get(term)
        if not plist:
            continue
        df = float(len(plist))
        if scorer == "tfidf_ref":
            wqt = math.log(1.0 + n / df)
        else:
            wqt = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        for doc_id, positions in plist:  # docID order
            tf = len(positions)
            if scorer == "tfidf_ref":
                partial = (1.0 + math.log(tf)) * wqt
            else:
                dl = oidx.dl[doc_id]
                norm = BM25_K1 * (1.0 - BM25_B + BM25_B * dl / oidx.avgdl)
                partial = wqt * tf * (BM25_K1 + 1.0) / (tf + norm)
            acc[doc_id] = acc.get(doc_id, 0.0) + partial
    if scorer == "tfidf_ref":
        for d in list(acc):
            acc[d] = acc[d] / oidx.ld[d]
    ranked = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def _tier_lists(oidx: OracleIndex) -> dict:
    """term → {tier: [(doc_id, tf)...] docID-sorted} via the exact heap
    replay (TieredIndexWriter.java:91-208); cached on the index."""
    cached = getattr(oidx, "_tiers", None)
    if cached is not None:
        return cached
    from ..index.javapq import assign_tiers

    tiers: dict = {}
    for term, plist in oidx.index.items():
        doc_ids = [d for d, _ in plist]
        tfs = [len(ps) for _, ps in plist]
        labels = assign_tiers(doc_ids, tfs)
        per: dict[int, list] = {}
        for (d, ps), t in zip(plist, labels):
            per.setdefault(t, []).append((d, len(ps)))
        tiers[term] = per  # docID order preserved within each tier
    oidx._tiers = tiers
    return tiers


def tiered_ranked_topk_oracle(
    oidx: OracleIndex, query: str, k: int = 20
) -> list[tuple[int, float]]:
    """Reference tiered ranked retrieval with tier fall-through
    (TieredRankedQueryParser.java:62-152), float64 accumulation in the
    exact fetched-postings order (tier 1 docs, then tier 2, then 3)."""
    terms = expand_ranked_query(query)
    tiers = _tier_lists(oidx)
    n = float(oidx.n_docs)
    acc: dict[int, float] = {}
    for term in terms:
        per = tiers.get(term)
        if not per or 1 not in per:
            continue
        fetched = list(per[1])
        if len(per[1]) < 20 and 2 in per:  # retrivePostings, :147-150
            fetched += per[2]
            if len(per[2]) < 20 - len(per[1]) and 3 in per:
                fetched += per[3]
        df_total = float(sum(len(v) for v in per.values()))
        wqt = math.log(1.0 + n / df_total)
        for doc_id, tf in fetched:
            acc[doc_id] = acc.get(doc_id, 0.0) + (1.0 + math.log(tf)) * wqt
    for d in list(acc):
        acc[d] = acc[d] / oidx.ld[d]
    ranked = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def _scored_tier_lists(oidx: OracleIndex) -> dict:
    """term → {tier: [(doc_id, precomputed score)] docID-sorted}, scores
    and tie order per TieredIndexWriterWithScore.java:100-166."""
    cached = getattr(oidx, "_scored_tiers", None)
    if cached is not None:
        return cached
    from ..index.javapq import assign_tiers_scored

    n = float(oidx.n_docs)
    tiers: dict = {}
    for term, plist in oidx.index.items():
        df = float(len(plist))
        wqt = math.log(1.0 + n / df)
        doc_ids = [d for d, _ in plist]
        scores = [(1.0 + math.log(len(ps))) * wqt for _, ps in plist]
        labels = assign_tiers_scored(doc_ids, scores)
        per: dict[int, list] = {}
        for d, s, t in zip(doc_ids, scores, labels):
            per.setdefault(t, []).append((d, s))
        tiers[term] = per
    oidx._scored_tiers = tiers
    return tiers


def scored_ranked_topk_oracle(
    oidx: OracleIndex, query: str, k: int = 20
) -> list[tuple[int, float]]:
    """WithScore variant (TieredRankedQueryParserWithScore.java:61-137):
    accumulate precomputed scores under tier fall-through, ÷Ld."""
    terms = expand_ranked_query(query)
    tiers = _scored_tier_lists(oidx)
    acc: dict[int, float] = {}
    for term in terms:
        per = tiers.get(term)
        if not per or 1 not in per:
            continue
        fetched = list(per[1])
        if len(per[1]) < 20 and 2 in per:
            fetched += per[2]
            if len(per[2]) < 20 - len(per[1]) and 3 in per:
                fetched += per[3]
        for doc_id, s in fetched:
            acc[doc_id] = acc.get(doc_id, 0.0) + s
    for d in list(acc):
        acc[d] = acc[d] / oidx.ld[d]
    ranked = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def assert_rank_identical(
    engine: list[tuple[int, float]],
    oracle: list[tuple[int, float]],
    rel_tol: float = 1e-9,
) -> None:
    """Rank-identity up to float-sum reordering: scores must agree within
    rel_tol, and rank order must agree wherever adjacent oracle scores
    differ by more than rel_tol (true ties are pinned by doc_id asc on
    both sides, so they compare exactly)."""
    assert len(engine) == len(oracle), (len(engine), len(oracle))
    for (ed, es), (od, os_) in zip(engine, oracle):
        assert abs(es - os_) <= rel_tol * max(1.0, abs(os_)), (
            "score mismatch",
            ed,
            es,
            od,
            os_,
        )
    # positions where order is forced (gap > tol) must match doc ids
    for i, ((ed, es), (od, os_)) in enumerate(zip(engine, oracle)):
        forced = True
        if i > 0 and abs(oracle[i - 1][1] - os_) <= rel_tol * max(1.0, abs(os_)):
            forced = False
        if i < len(oracle) - 1 and abs(oracle[i + 1][1] - os_) <= rel_tol * max(
            1.0, abs(os_)
        ):
            forced = False
        if forced:
            assert ed == od, ("rank mismatch at forced position", i, engine, oracle)
