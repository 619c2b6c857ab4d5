"""Tiered ranked retrieval with tier fall-through (SURVEY §2.5 K5) —
the reference's ACTIVE query path (``TieredRankedQueryParser.java:62-152``).

Semantics replayed exactly:
  * per term, fetch tier 1; fall into tier t+1 only while the postings
    found so far number fewer than 20 (``retrivePostings``, ``:143-152``;
    the 20 is hard-coded in the reference, independent of the UI's k)
  * wqt = ln(1 + N/df_total) with the TOTAL df across tiers (``:83-84``)
  * wdt recomputed as 1+ln(tf) (``:86``), accumulate, divide by Ld
  * this early termination is LOSSY by design — docs whose postings sit
    in an unfetched tier are simply not scored; rank-identity is against
    the same truncation, which is why the exact block-max WAND of the
    serving tier (query/serve.py) is the headline mode and this one is
    parity.

Driver does one small lexicon_tiered probe to pick (term, tier) pairs,
then ONE Spark job scores them (broadcast weights ⋈ tier/bucket-pruned
scan → groupBy(doc_id) → top-k).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from . import scoring
from .exec import IndexHandle, decode_blocks, expand_ranked_query

RETRIEVE_K = 20  # TieredRankedQueryParser.java:147


class TieredIndexHandle(IndexHandle):
    """IndexHandle + the tiered artifacts (build_tiered must have run;
    the scored artifacts attach lazily if build_tiered_scored ran too)."""

    def __post_init__(self) -> None:
        import os

        super().__post_init__()
        self.postings_tiered = self.spark.read.parquet(
            os.path.join(self.path, "postings_tiered")
        )
        self.lexicon_tiered = self.spark.read.parquet(
            os.path.join(self.path, "lexicon_tiered")
        )
        scored = os.path.join(self.path, "postings_scored")
        if os.path.isdir(scored):
            self.postings_scored = self.spark.read.parquet(scored)
            self.lexicon_scored = self.spark.read.parquet(
                os.path.join(self.path, "lexicon_scored")
            )


def select_tiers(df_by_tier: dict[int, int]) -> list[int]:
    """retrivePostings' fall-through (TieredRankedQueryParser.java:143-152):
    tiers included for one term given its per-tier dfs."""
    if 1 not in df_by_tier:
        return []
    sel = [1]
    found = df_by_tier[1]
    if found < RETRIEVE_K and 2 in df_by_tier:
        sel.append(2)
        if df_by_tier[2] < RETRIEVE_K - found and 3 in df_by_tier:
            sel.append(3)
    return sel


def tiered_ranked_topk(
    idx: TieredIndexHandle, query: str, k: int = 20
) -> DataFrame:
    """(doc_id, url, score) top-k under tier fall-through; tfidf_ref
    scoring only (the reference has no other tiered scorer)."""
    spark = idx.spark
    schema = "doc_id long, url string, score double"
    terms = expand_ranked_query(query)
    if not terms:
        return spark.createDataFrame([], schema)
    mult = Counter(terms)
    n = float(idx.meta["n_docs"])
    lex = (
        idx.lexicon_tiered.filter(F.col("term").isin(sorted(mult)))
        .select("term", "tier", "df_tier", "df_total")
        .collect()
    )
    by_term: dict[str, dict[int, int]] = {}
    df_total: dict[str, int] = {}
    for r in lex:
        by_term.setdefault(r["term"], {})[r["tier"]] = int(r["df_tier"])
        df_total[r["term"]] = int(r["df_total"])
    pairs = []  # (term, tier)
    weights = []  # (term, wqt * multiplicity)
    for t, c in mult.items():
        tiers = select_tiers(by_term.get(t, {}))
        if not tiers:
            continue
        pairs.extend((t, tr) for tr in tiers)
        weights.append((t, scoring.wqt("tfidf_ref", n, df_total[t], c)))
    if not pairs:
        return spark.createDataFrame([], schema)
    pair_dim = F.broadcast(
        spark.createDataFrame(pairs, "term string, tier int")
    )
    decoded = decode_blocks(
        idx.postings_tiered.join(pair_dim, ["term", "tier"]).select(
            "term", "docs_vb", "tfs_vb"
        )
    )
    qw_df = F.broadcast(spark.createDataFrame(weights, "term string, wqt double"))
    partial = F.col("wqt") * scoring.tf_part_col("tfidf_ref")
    scored = (
        decoded.join(qw_df, "term")
        .select("doc_id", partial.alias("partial"))
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("acc"))
        .join(idx.docs, "doc_id")
        .select("doc_id", "url", (F.col("acc") / F.col("ld")).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def scored_ranked_topk(
    idx: TieredIndexHandle, query: str, k: int = 20
) -> DataFrame:
    """The WithScore variant's query path
    (TieredRankedQueryParserWithScore.java:61-137): accumulate the
    PRECOMPUTED per-posting scores (wqt frozen at build) under the same
    tier fall-through, then divide by Ld."""
    spark = idx.spark
    schema = "doc_id long, url string, score double"
    terms = expand_ranked_query(query)
    if not terms:
        return spark.createDataFrame([], schema)
    mult = Counter(terms)
    lex = (
        idx.lexicon_scored.filter(F.col("term").isin(sorted(mult)))
        .collect()
    )
    by_term: dict[str, dict[int, int]] = {}
    for r in lex:
        by_term.setdefault(r["term"], {})[r["tier"]] = int(r["df_tier"])
    pairs = []
    mrows = []
    for t, c in mult.items():
        tiers = select_tiers(by_term.get(t, {}))
        if not tiers:
            continue
        pairs.extend((t, tr) for tr in tiers)
        mrows.append((t, float(c)))
    if not pairs:
        return spark.createDataFrame([], schema)
    pair_dim = F.broadcast(spark.createDataFrame(pairs, "term string, tier int"))
    mult_dim = F.broadcast(spark.createDataFrame(mrows, "term string, mult double"))
    decoded = decode_blocks(
        idx.postings_scored.join(pair_dim, ["term", "tier"]).select(
            "term", "docs_vb", "scores"
        )
    )
    scored = (
        decoded.join(mult_dim, "term")
        .select("doc_id", (F.col("scores") * F.col("mult")).alias("partial"))
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("acc"))
        .join(idx.docs, "doc_id")
        .select("doc_id", "url", (F.col("acc") / F.col("ld")).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
