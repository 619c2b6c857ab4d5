"""Spark-free serving tier: results must be rank/score-identical to the
Spark query path on the same index, at interactive (ms) latency."""

import time

import pytest

from searchengine_spark.oracle.refmodel import assert_rank_identical, ranked_topk_oracle
from searchengine_spark.query.serve import LocalIndexReader

QUERIES = [
    "the",
    "fast data",
    "spark stream window",
    "state-of",
    "the the",
    "zzzzabsent",
    "merge sort join hash scan filter group order",
    "",
]


@pytest.fixture(scope="module")
def reader(built_index):
    return LocalIndexReader(built_index)


@pytest.mark.parametrize("scorer", ["tfidf_ref", "bm25"])
@pytest.mark.parametrize("q", QUERIES)
def test_serve_rank_identity(reader, oracle_index, q, scorer):
    got = [(r["doc_id"], r["score"]) for r in reader.ranked_topk(q, k=20, scorer=scorer)]
    want = ranked_topk_oracle(oracle_index, q, k=20, scorer=scorer)
    assert_rank_identical(got, want, rel_tol=1e-9)


def test_serve_urls(reader, oracle_index):
    for r in reader.ranked_topk("fast data", k=5):
        assert r["url"] == oracle_index.urls[r["doc_id"]]


BOOL_QUERIES = [
    "spark merge",
    "spark + merge + vector",
    "spark -slow",
    '"state of"',
    '"fast key" table',
    "spark -zzzmissing",  # reference null-propagation quirk
    "snake_case spark",
    "((( -spark",
]


@pytest.mark.parametrize("q", BOOL_QUERIES)
def test_serve_boolean(reader, oracle_index, q):
    from searchengine_spark.oracle.boolmodel import boolean_query_oracle

    got = [r["doc_id"] for r in reader.boolean_query(q)]
    assert got == boolean_query_oracle(oracle_index, q), q


def test_serve_doc_scan_fallback_equals_ram(built_index, reader):
    """A shard above the doc-RAM gate answers from pyarrow docs scans
    (``_doc_meta`` / ``_doc_norms``); its answers must equal the RAM
    arrays' for both scorers and for boolean."""
    scan = LocalIndexReader(built_index)
    scan.DOCS_RAM_CAP = 0
    for q in QUERIES:
        for scorer in ("tfidf_ref", "bm25"):
            assert scan.ranked_topk(q, k=20, scorer=scorer) == reader.ranked_topk(
                q, k=20, scorer=scorer
            ), (q, scorer)
    for q in BOOL_QUERIES:
        assert scan.boolean_query(q) == reader.boolean_query(q), q
    assert reader._docs_ram and scan._docs_ram == ()


def test_serve_latency(reader):
    reader.ranked_topk("fast data", k=20)  # warm the dataset handles
    t0 = time.time()
    n = 20
    for _ in range(n):
        reader.ranked_topk("fast data spark window", k=20, scorer="bm25")
    per = (time.time() - t0) / n
    # interactive: well under the ~0.8 s Spark job floor. Bound is loose
    # on purpose (shared, noisy host); perfbench measures the latency
    # (ranked_p50_ms / ranked_p95_ms in BENCHMARK.json).
    assert per < 1.0, per


@pytest.mark.parametrize("scorer", ["tfidf_ref", "bm25"])
@pytest.mark.parametrize("q", QUERIES)
def test_serve_pruned_equals_full(reader, q, scorer):
    """Block-max pruning must be EXACT: same docs, bit-identical scores."""
    stats: dict = {}
    got = [
        (r["doc_id"], r["score"])
        for r in reader.ranked_topk(q, k=20, scorer=scorer, prune=True, probe=2, stats=stats)
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in reader.ranked_topk(q, k=20, scorer=scorer, prune=False)
    ]
    assert got == want, (q, scorer, stats)
    if got and "pruned" in stats:
        assert stats["probed"] + stats["survivors"] + stats["pruned"] == stats["n_buckets"]


def test_serve_boolean_numpy_backend_full_parity(reader, oracle_index):
    """The numpy set-op backend must agree with the pure-Python oracle
    backend on the full J1-J5 + parser-quirk query battery (same planner,
    third backend — any divergence is a backend bug)."""
    from searchengine_spark.oracle.boolmodel import boolean_query_oracle
    from tests.test_boolean import QUERIES as BOOL_BATTERY

    for q in BOOL_BATTERY:
        got = [r["doc_id"] for r in reader.boolean_query(q)]
        assert got == boolean_query_oracle(oracle_index, q), q


def test_serve_tiny_cache_oversized_query_exact(built_index, oracle_index):
    """A query touching more logical blocks than the cache can hold must
    still return exact results (ADVICE r2 #1: same-call eviction used to
    silently drop postings). cache_blocks=2 forces the oversized regime
    for every multi-bucket term."""
    tiny = LocalIndexReader(built_index, cache_blocks=2)
    for q in ["the", "merge sort join hash scan filter group order"]:
        got = [(r["doc_id"], r["score"]) for r in tiny.ranked_topk(q, k=20, scorer="bm25")]
        want = ranked_topk_oracle(oracle_index, q, k=20, scorer="bm25")
        assert_rank_identical(got, want, rel_tol=1e-9)
    assert len(tiny._block_cache) <= 2


def test_serve_concurrent_clients_exact(built_index, oracle_index):
    """Concurrent clients against ONE shared reader with a tiny block
    cache (maximum eviction contention) must all get the sequential
    answer. Guards the cache mutation lock in LocalIndexReader: without
    it, the evict-victim scan raced inserts (RuntimeError: dict changed
    size) and two threads popping the same victim raised KeyError."""
    from concurrent.futures import ThreadPoolExecutor

    tiny = LocalIndexReader(built_index, cache_blocks=3)
    qs = [q for q in QUERIES if q]
    expected = {
        q: [(r["doc_id"], r["score"]) for r in tiny.ranked_topk(q, k=20, scorer="bm25")]
        for q in qs
    }

    def client(seed: int) -> None:
        # each client walks the query set at a different phase so cache
        # contents churn across threads
        for i in range(len(qs) * 4):
            q = qs[(seed + i) % len(qs)]
            got = [
                (r["doc_id"], r["score"])
                for r in tiny.ranked_topk(q, k=20, scorer="bm25")
            ]
            assert got == expected[q], q

    with ThreadPoolExecutor(8) as ex:
        for f in [ex.submit(client, s) for s in range(8)]:
            f.result()  # re-raises any assertion / race error
    assert len(tiny._block_cache) <= 3


def test_serve_prunes_on_clustered_corpus(clustered_index):
    """On a topic-clustered corpus the serving tier must skip a substantial
    fraction of buckets (blobs never read) and stay bit-identical to its
    own unpruned evaluation."""
    from searchengine_spark.corpus import topic_terms

    r = LocalIndexReader(clustered_index)
    q = " ".join(topic_terms(5, 3))
    stats: dict = {}
    got = [
        (x["doc_id"], x["score"])
        for x in r.ranked_topk(q, k=10, scorer="bm25", prune=True, probe=3, stats=stats)
    ]
    want = [
        (x["doc_id"], x["score"])
        for x in r.ranked_topk(q, k=10, scorer="bm25", prune=False)
    ]
    assert got == want
    assert stats["pruned"] / stats["n_buckets"] > 0.3, stats
