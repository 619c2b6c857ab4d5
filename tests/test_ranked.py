"""Rank-identity gate (SURVEY §7.6): Spark engine top-k vs the NumPy
oracle of the reference scoring, both scorers, on the 300-page corpus."""

import pytest

from searchengine_spark.oracle.refmodel import (
    assert_rank_identical,
    ranked_topk_oracle,
)
from searchengine_spark.query.exec import IndexHandle, expand_ranked_query, ranked_topk

QUERIES = [
    "the",
    "fast data",
    "spark stream window",
    "state-of",
    "vanilla-shake",
    "don't",
    "o'neill customer",
    "zzzzabsent",
    "zzzzabsent table",
    "running runs ran",
    "caresses ponies",
    "the the",  # duplicate terms accumulate twice
    "snake_case",
    "NASA mccarthy",
    "b2b 42",
    "ice-cream-cone",
    "",
    "   ",
    "merge sort join hash scan filter group order",
]


@pytest.fixture(scope="module")
def handle(spark, built_index):
    return IndexHandle(spark, built_index)


def test_expand_matches_reference_shape():
    # hyphen: prefix, suffix, concat — in that order (RankedQueryParser.java:73-116)
    assert expand_ranked_query("state-of") == ["state", "of", "stateof"]
    assert expand_ranked_query("Don't STOP") == ["dont", "stop"]
    assert expand_ranked_query("a--b") == ["a", "b", "ab"]
    assert expand_ranked_query("") == []


@pytest.mark.parametrize("scorer", ["tfidf_ref", "bm25"])
@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity(handle, oracle_index, q, scorer):
    got = [
        (r["doc_id"], r["score"])
        for r in ranked_topk(handle, q, k=20, scorer=scorer).collect()
    ]
    want = ranked_topk_oracle(oracle_index, q, k=20, scorer=scorer)
    assert_rank_identical(got, want, rel_tol=1e-9)


def test_topk_is_take_ordered(handle):
    """The top-k must compile to TakeOrderedAndProject, not a global sort."""
    plan = ranked_topk(handle, "fast data", k=20)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_batch_kernel_matches_exchange_bm25(handle):
    """The scatter-gather bucket-kernel batch path must reproduce the
    declarative exchange plan (per-query `ranked_topk`: postings join the
    query weights, aggregate per doc) exactly: same (qid, rank, doc_id) and
    scores within float-reassociation tolerance (the two paths fold each
    doc's per-term partials in different orders)."""
    from searchengine_spark.query.exec import ranked_topk_batch

    qs = list(enumerate(QUERIES))
    a = ranked_topk_batch(handle, qs, k=20, scorer="bm25").collect()
    ka = sorted((r["qid"], r["rank"], r["doc_id"], r["score"]) for r in a)
    kb = []
    for qid, q in qs:
        rows = ranked_topk(handle, q, k=20, scorer="bm25").collect()
        kb += [(qid, i + 1, r["doc_id"], r["score"]) for i, r in enumerate(rows)]
    kb.sort()
    assert len(ka) == len(kb)
    for x, y in zip(ka, kb):
        assert x[:3] == y[:3]
        assert abs(x[3] - y[3]) <= 1e-9 * max(1.0, abs(x[3]))


def test_batch_kernel_matches_oracle_bm25(handle, oracle_index):
    """The bm25 batch path (scatter-gather bucket kernel) must match the
    oracle on every query, evaluated together in one batch."""
    from searchengine_spark.query.exec import ranked_topk_batch

    qs = list(enumerate(QUERIES))
    batch = ranked_topk_batch(handle, qs, k=20, scorer="bm25").collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in qs:
        want = ranked_topk_oracle(oracle_index, q, k=20, scorer="bm25")
        got = sorted(by_qid.get(qid, []))
        assert_rank_identical([(d, s) for _, d, s in got], want, rel_tol=1e-9)


def test_batch_kernel_plan_shape(handle):
    """The kernel batch path must compile to the scatter-gather shape:
    one Arrow grouped kernel (FlatMapGroupsInPandas), no row-at-a-time
    Python, no cartesian join."""
    from searchengine_spark.query.exec import ranked_topk_batch

    p = (
        ranked_topk_batch(handle, [(0, "fast data"), (1, "the")], k=5, scorer="bm25")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in p, p
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p


def test_batch_matches_sequential(handle, oracle_index):
    from searchengine_spark.query.exec import ranked_topk_batch

    qs = [(0, "fast data"), (1, "state-of"), (2, "zzzzabsent"), (3, "the the")]
    batch = ranked_topk_batch(handle, qs, k=20, scorer="tfidf_ref").collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in qs:
        want = ranked_topk_oracle(oracle_index, q, k=20, scorer="tfidf_ref")
        got = sorted(by_qid.get(qid, []))
        assert_rank_identical([(d, s) for _, d, s in got], want, rel_tol=1e-9)
