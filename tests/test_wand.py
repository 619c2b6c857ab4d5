"""Block-max WAND correctness: the serving tier's pruned top-k
(``LocalIndexReader.ranked_topk``, query/serve.py) must return the docs
and scores of Spark full evaluation (``exec.ranked_topk``) — the safety
property classic tiering lacks — and must skip buckets where the block
maxima allow it."""

import pytest

from searchengine_spark.oracle.refmodel import assert_rank_identical
from searchengine_spark.query.exec import IndexHandle, ranked_topk
from searchengine_spark.query.serve import LocalIndexReader

QUERIES = [
    "spark",
    "fast data",
    "spark stream window",
    "the",  # stopword: every bucket has it, UB pruning must still be exact
    "state-of",
    "merge sort join hash scan filter group order",
    "zzzzabsent",
    "vanilla-shake customer",
]


@pytest.fixture(scope="module")
def handle(spark, built_index):
    return IndexHandle(spark, built_index)


@pytest.fixture(scope="module")
def reader(built_index):
    return LocalIndexReader(built_index)


def _full(idx, q, k, scorer):
    return [(r["doc_id"], r["score"]) for r in ranked_topk(idx, q, k=k, scorer=scorer).collect()]


@pytest.mark.parametrize("scorer", ["tfidf_ref", "bm25"])
@pytest.mark.parametrize("q", QUERIES)
def test_wand_equals_full(handle, reader, q, scorer):
    stats: dict = {}
    got = [
        (r["doc_id"], r["score"])
        for r in reader.ranked_topk(q, k=20, scorer=scorer, probe=2, stats=stats)
    ]
    # numpy and Spark sum each doc's partials in different orders
    assert_rank_identical(got, _full(handle, q, 20, scorer), rel_tol=1e-9)
    if got:
        assert stats["n_buckets"] > 0
        assert stats["pruned"] >= 0
        assert stats["probed"] + stats["survivors"] + stats["pruned"] == stats["n_buckets"]


def test_wand_prunes_on_clustered_corpus(spark, clustered_index):
    """On a topic-clustered corpus (heterogeneous per-bucket maxima) WAND
    must prune a substantial fraction of buckets and stay exact."""
    from searchengine_spark.corpus import topic_terms

    q = " ".join(topic_terms(5, 3))
    stats: dict = {}
    got = [
        (r["doc_id"], r["score"])
        for r in LocalIndexReader(clustered_index).ranked_topk(
            q, k=10, scorer="bm25", probe=3, stats=stats
        )
    ]
    assert_rank_identical(got, _full(IndexHandle(spark, clustered_index), q, 10, "bm25"))
    assert stats["pruned"] / stats["n_buckets"] > 0.3, stats


def test_wand_prunes_selective_query(reader):
    """A rare term confined to few buckets must actually prune blocks once
    the probe fills k (k=1 makes θ high enough on the 300-doc corpus)."""
    stats: dict = {}
    reader.ranked_topk("vanilla-shake", k=1, scorer="bm25", probe=1, stats=stats)
    assert stats["pruned"] > 0, stats
