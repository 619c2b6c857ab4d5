#!/usr/bin/env python3
"""Shows that the benchmark's answer checks fire: each check must accept
the reference answer and reject every perturbed copy of it.

    python3 perfbench/selftest.py

Exits 1 if a check accepts a perturbed answer or rejects a correct one.
Needs no Spark and no index.
"""

from __future__ import annotations

import sys

import checks

# a top-k as (doc_id, score), with a two-way tie at ranks 1-2
WANT = [(812, 14.25), (77, 11.5), (9003, 11.5), (4, 9.875), (130, 3.0625)]

PERTURBED_TOPK = {
    "two ranks swapped": [WANT[0], WANT[3], WANT[2], WANT[1], WANT[4]],
    "score off by 1e-6": [WANT[0], WANT[1], WANT[2], (4, 9.875 + 1e-6), WANT[4]],
    "doc replaced": [WANT[0], WANT[1], WANT[2], (5, 9.875), WANT[4]],
    "last doc dropped": WANT[:-1],
    "extra doc": WANT + [(131, 1.0)],
    "tied doc replaced": [WANT[0], (78, 11.5), WANT[2], WANT[3], WANT[4]],
}


def batch_rows(topk: list[tuple[int, float]], qid: int = 7) -> list[dict]:
    return [{"qid": qid, "rank": r + 1, "doc_id": d, "url": f"u{d}", "score": s} for r, (d, s) in enumerate(topk)]


def serve_answer(topk: list[tuple[int, float]]) -> list[dict]:
    return [{"doc_id": d, "url": f"u{d}", "score": s} for d, s in topk]


def main() -> int:
    bad = []

    def expect(ok: bool, what: str) -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            bad.append(what)

    expect(not checks.rank_identical(WANT, WANT), "rank_identical accepts the reference")
    tie_swapped = [WANT[0], WANT[2], WANT[1], WANT[3], WANT[4]]
    expect(not checks.rank_identical(tie_swapped, WANT), "rank_identical accepts a permuted exact tie")
    near = [(d, s * (1 + 1e-12)) for d, s in WANT]
    expect(not checks.rank_identical(near, WANT), "rank_identical accepts scores 1e-12 apart")
    for name, got in PERTURBED_TOPK.items():
        expect(bool(checks.rank_identical(got, WANT)), f"rank_identical rejects: {name}")
        expect(bool(checks.serve_vs_batch({7: serve_answer(got)}, batch_rows(WANT))), f"serve_vs_batch rejects: {name}")
        expect(bool(checks.identical(serve_answer(got), serve_answer(WANT), name)), f"identical rejects: {name}")
    expect(not checks.serve_vs_batch({7: serve_answer(WANT)}, batch_rows(WANT)), "serve_vs_batch accepts the reference")
    expect(bool(checks.serve_vs_batch({7: serve_answer(WANT)}, batch_rows(WANT) + batch_rows(WANT, qid=8))), "serve_vs_batch rejects a query serve was not asked")
    expect(bool(checks.identical([1, 5, 9], [1, 5], "boolean")), "identical rejects an extra boolean doc")
    print(f"{len(bad)} check(s) misbehaved" if bad else "all checks fire on perturbed answers")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
