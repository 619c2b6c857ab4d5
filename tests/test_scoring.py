"""The one scoring core (query/scoring.py): its numpy and Spark forms agree
bit for bit, and the serving tier's bucket upper bounds built from it
bound every document's exact score — the premise of block-max pruning."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.query import scoring

SCORERS = ["tfidf_ref", "bm25"]


def test_bm25_numpy_and_spark_forms_bit_identical(spark):
    n = 300.0
    tfs = [1, 2, 3, 5, 17, 250]
    dls = [1, 7, 64, 300, 5000]
    dfs = [1, 3, 150, 299]
    rows = [
        (tf, dl, scoring.wqt("bm25", n, df, mult))
        for tf in tfs
        for dl in dls
        for df in dfs
        for mult in (1, 2)
    ]
    tf = np.array([r[0] for r in rows], dtype=np.float64)
    dl = np.array([r[1] for r in rows], dtype=np.float64)
    w = np.array([r[2] for r in rows])
    pdf = spark.createDataFrame(rows, "tf long, dl long, wqt double")
    for avgdl in (1.0, 37.25, 123.456789, 4000.5):
        got = [
            r["c"]
            for r in pdf.select(
                (F.col("wqt") * scoring.tf_part_col("bm25", avgdl)).alias("c")
            ).collect()
        ]
        want = w * scoring.tf_part("bm25", tf, dl, avgdl)
        assert [x.hex() for x in got] == [float(x).hex() for x in want], avgdl


def _synthetic_reader(rng, n_docs: int, bucket_docs: int, n_terms: int):
    """A LocalIndexReader over in-memory block stats and doc norms (no
    files): random postings, per-(term, bucket) max_tf/min_dl/min_ld, and
    dl/Ld drawn independently per doc."""
    from searchengine_spark.query.serve import LocalIndexReader

    r = LocalIndexReader.__new__(LocalIndexReader)
    dl = rng.integers(5, 3000, n_docs).astype(np.float64)
    ld = np.sqrt(dl) * rng.uniform(0.3, 3.0, n_docs)
    r._docs_ram = (np.arange(n_docs), np.full(n_docs, "", dtype=object), dl, ld)
    r._stats_cache = {}
    postings = {}
    for i in range(n_terms):
        docs = np.sort(rng.choice(n_docs, size=int(rng.integers(1, n_docs // 2)), replace=False))
        tf = rng.integers(1, 40, docs.size).astype(np.float64)
        buckets, inv = np.unique(docs // bucket_docs, return_inverse=True)
        max_tf = np.zeros(buckets.size)
        np.maximum.at(max_tf, inv, tf)
        min_dl = np.full(buckets.size, np.inf)
        np.minimum.at(min_dl, inv, dl[docs])
        min_ld = np.full(buckets.size, np.inf)
        np.minimum.at(min_ld, inv, ld[docs])
        r._stats_cache[f"t{i}"] = (buckets, max_tf, min_dl, min_ld)
        postings[f"t{i}"] = (docs, tf, dl[docs])
    return r, postings


@pytest.mark.parametrize("scorer", SCORERS)
def test_bucket_bound_covers_every_doc_synthetic(scorer):
    """The bucket UB serve builds from (max_tf, min_dl) — or (max_tf,
    min_ld) for tf-idf — is ≥ the exact score of every doc in the bucket,
    over random multi-term queries on random blocks."""
    rng = np.random.default_rng(7)
    bucket_docs = 32
    r, postings = _synthetic_reader(rng, n_docs=256, bucket_docs=bucket_docs, n_terms=8)
    for _ in range(100):
        terms = sorted(rng.choice(sorted(postings), size=int(rng.integers(1, 5)), replace=False))
        wqt = {
            t: scoring.wqt(scorer, 1000.0, float(postings[t][0].size), int(rng.integers(1, 3)))
            for t in terms
        }
        avgdl = float(rng.uniform(50, 2000))
        buckets, ub, _ = r._bucket_bounds(terms, wqt, scorer, avgdl)
        docs, scores = r._score_decoded([(t, *postings[t]) for t in terms], wqt, scorer, avgdl)
        assert np.all(scores <= ub[np.searchsorted(buckets, docs // bucket_docs)])


@pytest.mark.parametrize("scorer", SCORERS)
@pytest.mark.parametrize(
    "q",
    [
        "the",
        "the the",
        "merge sort join hash scan filter group order",
        # rare terms: one-posting blocks, where the bound is tight
        "vanilla-shake customer",
        "NASA mccarthy snake_case",
    ],
)
def test_bucket_bounds_cover_exact_scores(built_index, q, scorer):
    """On a real index, every document's exact score is ≤ the UB of its
    bucket (``LocalIndexReader._bucket_bounds``), so pruning a bucket with
    UB < θ can never drop a top-k document."""
    from collections import Counter

    from searchengine_spark.query.exec import expand_ranked_query
    from searchengine_spark.query.serve import LocalIndexReader

    r = LocalIndexReader(built_index)
    mult = Counter(expand_ranked_query(q))
    n = float(r.meta["n_docs"])
    avgdl = float(r.meta["avgdl"])
    wqt = {t: scoring.wqt(scorer, n, df, mult[t]) for t, df in r.term_stats(sorted(mult)).items()}
    terms = sorted(wqt)
    buckets, ub, term_buckets = r._bucket_bounds(terms, wqt, scorer, avgdl)
    docs, scores = r._score_decoded(r._decoded_terms(terms, term_buckets), wqt, scorer, avgdl)
    doc_ub = ub[np.searchsorted(buckets, docs // int(r.meta["bucket_docs"]))]
    assert docs.size and np.all(scores <= doc_ub)
