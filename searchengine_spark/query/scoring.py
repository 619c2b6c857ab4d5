"""The engine's one scoring definition (SURVEY §2.6).

Every ranked path scores a posting as ``wqt · tf_part``:

  * ``wqt(scorer, n, df, mult)`` — the query-term weight, computed once per
    distinct query term on the driver with ``math.log`` and multiplied by
    the term's multiplicity in the expanded query (a duplicated term
    accumulates twice, RankedQueryParser.java:69-116);
  * ``tf_part`` (numpy arrays) / ``tf_part_col`` (Spark columns) — the
    per-posting part. Both forms apply the same float operations in the
    same order, so their BM25 contributions are bit-identical.

Scorers on one index:
  - ``tfidf_ref``: the reference's lnc tf-idf —
    wqt = ln(1 + N/df), tf_part = 1 + ln tf, and each document's sum is
    divided by its Ld (RankedQueryParser.java:82-94,119-132). The Spark
    form keeps ``F.log`` and the numpy form ``np.log``.
  - ``bm25`` (k1=1.2, b=0.75): the north-star web-scale scorer —
    wqt = ln((N-df+0.5)/(df+0.5) + 1),
    tf_part = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).

tf_part is monotone ↑ in tf and ↓ in dl (↓ in Ld after the tf-idf
division), so block-max pruning bounds a block by the same functions at
the block's stored extrema: ``wqt · tf_part(max_tf, min_dl)`` for bm25,
``wqt · tf_part(max_tf) / min_ld`` for tfidf_ref.

The test oracle (oracle/refmodel.py) writes its own formulas and takes
only the constants from here.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75


def wqt(scorer: str, n: float, df: float, mult: int = 1) -> float:
    """Weight of a query term with document frequency ``df`` in a corpus
    of ``n`` documents, times its multiplicity ``mult`` in the query."""
    if scorer == "tfidf_ref":
        w = math.log(1.0 + n / df)
    elif scorer == "bm25":
        w = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    return w * mult


def tf_part(
    scorer: str,
    tf: np.ndarray,
    dl: np.ndarray | None = None,
    avgdl: float | None = None,
) -> np.ndarray:
    """Per-posting part over float64 numpy arrays (``dl``/``avgdl`` are
    read by bm25 only)."""
    if scorer == "tfidf_ref":
        return 1.0 + np.log(tf)
    return tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))


def tf_part_col(scorer: str, avgdl: float | None = None) -> Column:
    """Per-posting part as a Spark column over the decoded-posting columns
    ``tf`` (and ``dl`` for bm25)."""
    tf = F.col("tf").cast("double")
    if scorer == "tfidf_ref":
        return F.lit(1.0) + F.log(tf)
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)
    )
    return tf * F.lit(BM25_K1 + 1.0) / (tf + norm)
