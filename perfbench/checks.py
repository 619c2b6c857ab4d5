"""Answer checks the benchmark applies outside its timed regions.

Each check returns a list of human-readable problems; an empty list means
the answers agree. ``selftest.py`` feeds perturbed answers to these same
functions to show that they fire.
"""

from __future__ import annotations

REL_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


def rank_identical(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> list[str]:
    """Same length, every score within ``REL_TOL`` of the reference at the
    same rank, and the same docs at every rank. Only a run of reference
    scores that tie within ``REL_TOL`` may come back permuted, since two
    summation orders can split an exact tie by one ulp."""
    if len(got) != len(want):
        return [f"length {len(got)} != {len(want)}"]
    out = []
    for r, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if not _close(gs, ws):
            out.append(f"rank {r}: score {gs!r} != {ws!r}")
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and _close(want[j][1], want[i][1]):
            j += 1
        if sorted(d for d, _ in got[i:j]) != sorted(d for d, _ in want[i:j]):
            out.append(f"ranks {i}..{j - 1}: docs {[d for d, _ in got[i:j]]} != {[d for d, _ in want[i:j]]}")
        i = j
    return out


def identical(got, want, what: str) -> list[str]:
    """Exact equality, for answers that must not differ at all (pruned vs
    unpruned top-k, a repeated query, boolean doc lists)."""
    return [] if got == want else [f"{what}: {str(got)[:200]} != {str(want)[:200]}"]


def serve_vs_batch(serve: dict[int, list[dict]], batch_rows: list) -> list[str]:
    """Serve ``ranked_topk`` answers vs the Spark batch rows
    ``(qid, rank, doc_id, url, score)`` for the same queries and index."""
    by_q: dict[int, list] = {}
    for row in batch_rows:
        by_q.setdefault(int(row["qid"]), []).append(row)
    out = []
    for qid, got in serve.items():
        want = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        for p in rank_identical([(r["doc_id"], r["score"]) for r in got], [(r["doc_id"], r["score"]) for r in want]):
            out.append(f"query {qid}: {p}")
    for qid in sorted(set(by_q) - set(serve)):
        out.append(f"query {qid}: batch answered a query serve was not asked")
    return out
