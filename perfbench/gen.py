"""Seeded inputs for the engine benchmark: a crawl-shaped pages table and
the query mixes each workload sends.

Everything is derived from one integer seed; the same seed gives the same
corpus, the same staged parquet bytes and the same query streams. The
engine only ever sees the staged parquet and the query strings.

Corpus shape (both variants):
  * a seeded vocabulary of pronounceable words, Zipf-distributed
    (exponent ``ZIPF_S``), so a few head terms sit in almost every doc
    and most terms are rare;
  * lognormal doc lengths (median ``LEN_MEDIAN`` words, clipped);
  * ``HTML_ONLY_FRAC`` of rows carry only ``html`` (``text`` is null), so
    the build's ``extract_text`` UDF does real work;
  * rows in crawl order: hosts interleave, urls are NOT sorted, so the
    build's dense-id pre-pass takes the path a real crawl table takes.
The clustered variant adds topics: each doc belongs to one topic whose
private word slice supplies ``TOPIC_SHARE`` of its words, and the topic
leads the hostname, so after the url sort topics are contiguous doc-id
ranges (heterogeneous per-bucket block maxima).
"""

from __future__ import annotations

import html
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 9_000
VOCAB = 30_000
ZIPF_S = 1.05
LEN_MEDIAN = 120
LEN_SIGMA = 0.7
LEN_MIN, LEN_MAX = 8, 1500
HTML_ONLY_FRAC = 0.15
N_HOSTS = 1_500
DE_FRAC = 0.02
N_TOPICS = 32
TOPIC_WORDS = 150
TOPIC_SHARE = 0.4
# vocab ranks of the term classes queries draw from
HEAD = (0, 100)
MID = (100, 3_000)
TAIL = (3_000, VOCAB)
BOOLEAN_BAND = (200, 1_000)  # boolean words: similar dfs, so similar op costs
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_SYLLABLES = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiou"]


def vocabulary(seed: int, n: int = VOCAB) -> list[str]:
    """``n`` distinct lowercase words of 2-5 CV syllables, rank 0 most
    frequent. The length of the word at each rank is the same for every
    seed, so text bytes per posting do not move with the seed."""
    lengths = np.random.default_rng(0).integers(2, 6, n).tolist()
    rng = np.random.default_rng((seed, 1))
    seen: dict[str, None] = {}
    for k in lengths:
        while True:
            w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k).tolist())
            if w not in seen:
                seen[w] = None
                break
    return list(seen)


def absent_terms(seed: int, vocab: list[str], n: int = 200) -> list[str]:
    """Words that never occur in the corpus (digits never do)."""
    rng = np.random.default_rng((seed, 2))
    return [f"{vocab[int(i)]}{int(d)}x" for i, d in zip(rng.integers(0, len(vocab), n), rng.integers(10, 99, n))]


def _zipf_cdf(n: int) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), ZIPF_S)
    return np.cumsum(w) / w.sum()


class Corpus:
    """The pages table for one seed, as columns plus the vocabulary."""

    def __init__(self, seed: int, n_docs: int = N_DOCS, clustered: bool = False) -> None:
        rng = np.random.default_rng((seed, 3, int(clustered)))
        self.n_docs = n_docs
        self.vocab = vocabulary(seed)
        words = np.asarray(self.vocab, dtype=object)
        lens = np.exp(rng.normal(np.log(LEN_MEDIAN), LEN_SIGMA, n_docs))
        lens = np.clip(lens.astype(np.int64), LEN_MIN, LEN_MAX)
        ends = np.cumsum(lens)
        ids = np.searchsorted(_zipf_cdf(len(words)), rng.random(int(ends[-1])))
        ids = np.minimum(ids, len(words) - 1)
        topic = rng.integers(0, N_TOPICS, n_docs)
        if clustered:
            # topic words live in the Zipf tail, one private slice each
            doc_of = np.repeat(np.arange(n_docs), lens)
            swap = rng.random(ids.size) < TOPIC_SHARE
            lo = TAIL[0] + topic[doc_of[swap]] * TOPIC_WORDS
            ids[swap] = lo + (rng.zipf(1.3, int(swap.sum())) - 1) % TOPIC_WORDS
        tok = words[ids]
        starts = ends - lens
        texts = [" ".join(tok[a:b]) for a, b in zip(starts.tolist(), ends.tolist())]
        self.doc_terms = (starts, ends, ids)
        host = rng.integers(0, N_HOSTS, n_docs)
        path = rng.permutation(n_docs)
        if clustered:
            urls = [f"https://t{t:02d}-h{h}.example/p/{p}" for t, h, p in zip(topic.tolist(), host.tolist(), path.tolist())]
        else:
            urls = [f"https://h{h}.example/p/{p}" for h, p in zip(host.tolist(), path.tolist())]
        html_only = rng.random(n_docs) < HTML_ONLY_FRAC
        self.html_only = int(html_only.sum())
        self.text_bytes = sum(len(t.encode()) for t in texts)
        pages_html = [
            f"<html><head><title>{u}</title></head><body><p>{html.escape(t)}</p></body></html>".encode()
            if h
            else None
            for u, t, h in zip(urls, texts, html_only.tolist())
        ]
        base = int(_EPOCH.timestamp() * 1_000_000)
        self.table = pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(base + np.arange(n_docs, dtype=np.int64) * 7_000_000, pa.timestamp("us", tz="UTC")),
                "html": pa.array(pages_html, pa.binary()),
                "text": pa.array([None if h else t for t, h in zip(texts, html_only.tolist())], pa.string()),
                "lang": pa.array(np.where(rng.random(n_docs) < DE_FRAC, "de", "en").tolist(), pa.string()),
            }
        )
        self.texts = texts

    def stage(self, out_dir: str, files: int) -> str:
        """Write the table as ``files`` parquet files of contiguous crawl
        order (every file spans all hosts, so url ranges overlap)."""
        os.makedirs(out_dir, exist_ok=True)
        step = -(-self.n_docs // files)
        for i in range(files):
            pq.write_table(self.table.slice(i * step, step), os.path.join(out_dir, f"part-{i:03d}.parquet"))
        return out_dir

    def phrase_pair(self, rng: np.random.Generator) -> tuple[str, str]:
        """Adjacent ``BOOLEAN_BAND`` words from a random doc, so the phrase
        hits."""
        starts, ends, ids = self.doc_terms
        lo, hi = BOOLEAN_BAND
        while True:
            d = int(rng.integers(self.n_docs))
            p = int(rng.integers(starts[d], ends[d] - 1))
            if lo <= min(ids[p], ids[p + 1]) and max(ids[p], ids[p + 1]) < hi:
                return self.vocab[ids[p]], self.vocab[ids[p + 1]]


def _pick(rng: np.random.Generator, vocab: list[str], rank: tuple[int, int]) -> str:
    return vocab[int(rng.integers(rank[0], rank[1]))]


# Query shapes and the vocabulary ranks (or topic and in-topic ranks) each
# query draws are fixed; only the words at those ranks, the absent words and
# the corpus come from the seed. Every seed so sends the same mix, whose
# posting-list lengths differ only by the corpus's sampling noise, and
# latency percentiles and working sets compare across seeds. Ranked term
# classes: 0 head, 1 mid, 2 tail, 3 absent.
QUERY_RNG = 4  # the stream of ranks the query generators draw from
_RANKED_LEN_P = (0.25, 0.35, 0.25, 0.15)  # 1, 2, 3, 4 terms
_RANKED_CLASS_P = (0.35, 0.35, 0.2, 0.1)


def ranked_shapes(n: int) -> list[tuple[int, ...]]:
    """``n`` term-class tuples from a seed-independent stream."""
    rng = np.random.default_rng(0)
    return [
        tuple(rng.choice(4, int(rng.choice([1, 2, 3, 4], p=_RANKED_LEN_P)), p=_RANKED_CLASS_P).tolist())
        for _ in range(n)
    ]


def ranked_query(rng: np.random.Generator, vocab: list[str], absent: list[str], shape: tuple[int, ...]) -> str:
    return " ".join(
        absent[int(rng.integers(len(absent)))] if c == 3 else _pick(rng, vocab, (HEAD, MID, TAIL)[c]) for c in shape
    )


def batch_queries(seed: int, corpus: Corpus, n: int = 225) -> list[tuple[int, str]]:
    """The ranked batch: 1-4 terms from the head, mid, tail and absent
    classes, words from the seed's vocabulary."""
    rng = np.random.default_rng((QUERY_RNG, 0))
    absent = absent_terms(seed, corpus.vocab)
    return [(i, ranked_query(rng, corpus.vocab, absent, s)) for i, s in enumerate(ranked_shapes(n))]


BOOLEAN_KINDS = ("and", "or", "not", "phrase")


def boolean_query(rng: np.random.Generator, corpus: Corpus, kind: str) -> str:
    """AND / OR / NOT over two words of ``BOOLEAN_BAND``, or a phrase of two
    adjacent such words that occurs in the corpus. Head terms stay out:
    serve decodes a boolean term's whole posting list on every call, so one
    head term would make an op a scan of the index."""
    v = corpus.vocab
    if kind == "phrase":
        a, b = corpus.phrase_pair(rng)
        return f'"{a} {b}"'
    a, b = _pick(rng, v, BOOLEAN_BAND), _pick(rng, v, BOOLEAN_BAND)
    return {"and": f"{a} {b}", "or": f"{a} + {b}", "not": f"{a} -{b}"}[kind]


def boolean_pool(corpus: Corpus, n: int) -> list[str]:
    """``n`` boolean queries, the kinds in turn."""
    rng = np.random.default_rng((QUERY_RNG, 1))
    return [boolean_query(rng, corpus, BOOLEAN_KINDS[i % len(BOOLEAN_KINDS)]) for i in range(n)]


# cold shapes, one cycle of 10: 7 topic-selective (1 or 2 words of one
# topic, two of them plus a head term) and 3 head-heavy (a head term plus
# 1 or 2 mid terms)
COLD_SHAPES = (
    ("topic", 1, False), ("head", 1), ("topic", 2, False), ("topic", 1, True), ("topic", 2, False),
    ("head", 2), ("topic", 1, False), ("topic", 2, True), ("head", 1), ("topic", 1, False),
)


def cold_query(rng: np.random.Generator, corpus: Corpus, shape: tuple) -> str:
    v = corpus.vocab
    if shape[0] == "topic":
        lo = TAIL[0] + int(rng.integers(N_TOPICS)) * TOPIC_WORDS
        terms = [v[lo + int(rng.integers(TOPIC_WORDS))] for _ in range(shape[1])]
        if shape[2]:
            terms.append(_pick(rng, v, HEAD))
    else:
        terms = [_pick(rng, v, HEAD)] + [_pick(rng, v, MID) for _ in range(shape[1])]
    return " ".join(terms)
