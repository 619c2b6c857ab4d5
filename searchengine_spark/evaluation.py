"""Batch retrieval-quality evaluation (SURVEY §2.1 batch eval / §5).

The Spark analogue of the reference's Cranfield harness
(``Milestone3/SimulateQueryRun.java:33-117`` +
``Milestone3/CalculateAveragePrecision.java:25-61``): run a query set in
ONE Spark job (ranked_topk_batch), score AP@20 per query against a qrel
map, report MAP + latency aggregates. The reference's AP is
  AP(q) = (Σ_{relevant hits h in top-20} h/rank(h)) / |relevant(q)|
(``CalculateAveragePrecision.java:25-29,44-61``).

Since no human relevance judgments exist for synthetic corpora, qrels
are synthesized from a chosen reference mode's own top-k (e.g. full
tf-idf evaluation) — MAP then measures how much a faster/looser variant
(BM25, tier fall-through) departs from the reference ranking, which is
exactly what the reference's six-variant A/B harness measured.
"""

from __future__ import annotations

import time

from .query.exec import IndexHandle, ranked_topk_batch


def average_precision(
    top_docs: list[int], relevant: set[int], k: int = 20
) -> float:
    """Reference AP@k (CalculateAveragePrecision.java:44-61)."""
    if not relevant:
        return 0.0
    hits = 0
    combined = 0.0
    for rank, d in enumerate(top_docs[:k], start=1):
        if d in relevant:
            hits += 1
            combined += hits / rank
    return combined / len(relevant)


def topk_map(
    idx: IndexHandle,
    queries: list[tuple[int, str]],
    qrels: dict[int, set[int]],
    k: int = 20,
    scorer: str = "tfidf_ref",
) -> dict:
    """One-job batch evaluation → {'map': float, 'ap': {qid: ap},
    'elapsed_sec', 'qps'}."""
    t0 = time.time()
    rows = ranked_topk_batch(idx, queries, k=k, scorer=scorer).collect()
    elapsed = time.time() - t0
    per_q: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    ap = {}
    for qid, _ in queries:
        docs = [d for _, d in sorted(per_q.get(qid, []))]
        ap[qid] = average_precision(docs, qrels.get(qid, set()), k=k)
    n = max(len(queries), 1)
    return {
        "map": sum(ap.values()) / n,
        "ap": ap,
        "elapsed_sec": elapsed,
        "qps": len(queries) / max(elapsed, 1e-9),
    }


def variant_matrix(
    spark,
    idx_dir: str,
    queries: list[tuple[int, str]],
    k: int = 20,
) -> dict[str, dict]:
    """The analogue of the reference's six-variant A/B harness
    (SimulateQueryRun.java:33-87): MAP + throughput for every engine
    variant against qrels synthesized from full tf-idf evaluation.
    Variants needing the tiered artifacts are skipped when absent."""
    import os
    import time

    from .query.serve import LocalIndexReader
    from .query.tiered import (
        TieredIndexHandle,
        scored_ranked_topk,
        tiered_ranked_topk,
    )

    idx = IndexHandle(spark, idx_dir)
    qrels = qrels_from_mode(idx, queries, k=k, scorer="tfidf_ref")
    out: dict[str, dict] = {}
    out["full_tfidf"] = topk_map(idx, queries, qrels, k=k, scorer="tfidf_ref")
    out["full_bm25"] = topk_map(idx, queries, qrels, k=k, scorer="bm25")

    def _per_query(name, fn):
        t0 = time.time()
        ap = {}
        for qid, q in queries:
            docs = [r["doc_id"] for r in fn(q)]
            ap[qid] = average_precision(docs, qrels.get(qid, set()), k=k)
        el = time.time() - t0
        out[name] = {
            "map": sum(ap.values()) / max(len(queries), 1),
            "elapsed_sec": el,
            "qps": len(queries) / max(el, 1e-9),
        }

    reader = LocalIndexReader(idx_dir)
    _per_query("serve_bm25", lambda q: reader.ranked_topk(q, k=k, scorer="bm25"))
    _per_query("serve_tfidf", lambda q: reader.ranked_topk(q, k=k, scorer="tfidf_ref"))
    if os.path.isdir(os.path.join(idx_dir, "postings_tiered")):
        th = TieredIndexHandle(spark, idx_dir)
        _per_query("tiered_tfidf", lambda q: tiered_ranked_topk(th, q, k=k).collect())
        if hasattr(th, "postings_scored"):
            _per_query("scored_tfidf", lambda q: scored_ranked_topk(th, q, k=k).collect())
    for name in out:
        out[name] = {
            kk: vv for kk, vv in out[name].items() if kk in ("map", "qps", "elapsed_sec")
        }
    return out


def load_mini_qrels() -> tuple[list[tuple[int, str]], dict[int, set[int]], dict]:
    """The checked-in labeled fixture (tests/fixtures/qrels_mini.json):
    20 queries judged by an explicit engine-independent containment rule
    over the deterministic clustered corpus (tools/make_mini_qrels.py).
    MAP against these measures retrieval quality proper, not agreement
    between two of our own scorers — the analogue of the reference's
    Cranfield judgments (SimulateQueryRun.java:33-117), which aren't in
    this sandbox."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "tests", "fixtures", "qrels_mini.json"
    )
    fx = json.load(open(path))
    queries = [(q["qid"], q["query"]) for q in fx["queries"]]
    qrels = {q["qid"]: set(q["relevant"]) for q in fx["queries"]}
    return queries, qrels, fx["corpus"]


def qrels_from_mode(
    idx: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 20,
    scorer: str = "tfidf_ref",
) -> dict[int, set[int]]:
    """Synthesize qrels: the chosen mode's top-k IS the relevant set."""
    rows = ranked_topk_batch(idx, queries, k=k, scorer=scorer).collect()
    qrels: dict[int, set[int]] = {qid: set() for qid, _ in queries}
    for r in rows:
        qrels[r["qid"]].add(r["doc_id"])
    return qrels
