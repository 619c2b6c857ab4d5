"""Deterministic synthetic corpus generator (FIXTURES.md §1/§3).

Produces the BASELINE.json input-shaped table
``pages(url string, warc_ts timestamp, html binary, text string, lang
string)`` — Common-Crawl-style pages — at any row count, fully
deterministic in (seed, i) and independent of partitioning: generation
runs distributed via ``mapInPandas`` over ``spark.range``, each row
seeded by its own index. No external data, no wall-clock.

Text is Zipf-sampled (s≈1.07, genuinely skewed head terms so stopword
salting paths are exercised) over a ~2.2k-word synthetic vocabulary, with
deterministic injections covering every tokenizer branch: hyphen pairs,
apostrophes, edge punctuation, underscores, mixed case, stemming
families, strip-to-empty tokens, digits.
"""

from __future__ import annotations

import html as _html
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_SPECIALS = [
    "state-of",
    "vanilla-shake",
    "ice-cream-cone",
    "don't",
    "o'neill",
    "(hello",
    "world!!",
    '"quoted"',
    "snake_case",
    "NASA",
    "McCarthy",
    "running",
    "runs",
    "ran",
    "caresses",
    "ponies",
    "---",
    "!!!",
    "42",
    "b2b",
    "re-run",
    "rock'n'roll",
]

# the driver testdata vocabulary, so query fixtures overlap both corpora
_REAL = (
    "the a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort spark "
    "stream table value vector window search engine index rank score text "
    "page crawl web document term position weight tier block match result"
).split()


def _synth_vocab(n: int = 2200) -> list[str]:
    """Deterministic pronounceable words, no tokenizer-special chars."""
    rng = np.random.default_rng(SEED)
    cons = list("bcdfghjklmnpqrstvwz")
    vows = list("aeiou")
    seen: dict[str, None] = dict.fromkeys(_REAL)
    while len(seen) < n:
        k = rng.integers(2, 5)
        w = "".join(
            rng.choice(cons) + rng.choice(vows) for _ in range(k)
        )
        seen.setdefault(w, None)
    return list(seen)


_VOCAB = _synth_vocab()
_ZIPF_W = 1.0 / np.power(np.arange(1, len(_VOCAB) + 1), 1.07)
_ZIPF_P = _ZIPF_W / _ZIPF_W.sum()


_N_TOPICS = 16
_TOPIC_SLICE = 90  # vocab words exclusive-ish to each topic
_TOPIC_BASE = 600  # deep in the Zipf tail so global df stays tiny


def page_row(i: int, clustered: bool = False) -> tuple[str, datetime, bytes, str, str]:
    """Fully deterministic row i — same values from any executor.

    ``clustered=True`` gives each site a topic whose vocabulary slice
    supplies ~half the words. Since doc_ids follow url order and urls
    sort by site, topics become CONTIGUOUS doc ranges — heterogeneous
    per-bucket block maxima, the corpus shape where block-max pruning
    (query/serve.py) actually pays off (the uniform default corpus makes
    every bucket's maxima identical, so WAND degenerates to full
    evaluation there)."""
    rng = np.random.default_rng((SEED, i))
    n_words = int(rng.integers(40, 220))
    words = [_VOCAB[j] for j in rng.choice(len(_VOCAB), n_words, p=_ZIPF_P)]
    topic = (i % 997) % _N_TOPICS
    if clustered:
        lo = _TOPIC_BASE + topic * _TOPIC_SLICE
        topic_words = _VOCAB[lo : lo + _TOPIC_SLICE]
        n_topic = n_words // 2
        tw = rng.zipf(1.3, size=n_topic) % len(topic_words)
        for k, t in enumerate(tw):
            words[int(rng.integers(0, len(words)))] = topic_words[int(t)]
    # deterministic special injections (~5% of docs heavier, rest light)
    n_spec = int(rng.integers(0, 4)) + (3 if i % 20 == 0 else 0)
    for _ in range(n_spec):
        pos = int(rng.integers(0, len(words) + 1))
        words.insert(pos, _SPECIALS[int(rng.integers(0, len(_SPECIALS)))])
    text = " ".join(words)
    if clustered:
        # topic leads the hostname so the url sort (= doc_id order) lays
        # each topic out as a contiguous doc range → bucket-aligned
        url = f"https://t{topic:02d}-site{i % 997}.example/page/{i:012d}"
    else:
        url = f"https://site{i % 997}.example/page/{i:012d}"
    ts = datetime.fromtimestamp(_EPOCH.timestamp() + i * 61, tz=timezone.utc)
    htmlb = (
        f"<html><head><title>t{i}</title></head>"
        f"<body><p>{_html.escape(text)}</p></body></html>"
    ).encode("utf-8")
    lang = "de" if i % 50 == 7 else "en"
    return url, ts, htmlb, text, lang


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def generate_pages(
    spark: SparkSession,
    n_docs: int,
    parallelism: int | None = None,
    clustered: bool = False,
) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInPandas."""

    def gen(batches):
        for pdf in batches:
            rows = [page_row(int(i), clustered) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    rng_df = spark.range(0, n_docs, numPartitions=parallelism or max(2, n_docs // 2500))
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)


def split_master_json(spark: SparkSession, json_path: str) -> DataFrame:
    """The reference's one-time corpus prep (S1), Spark-shaped: split a
    master ``{"documents": [{"body": …}, …]}`` file into per-document
    rows (FormCorpus.initCorpus, Milestone1/FormCorpus.java:32-51 —
    there: one ``N.json`` file per doc, N sequential from 1; readdir over
    those names is the engine's docID walk order).

    At web scale a table IS the corpus — millions of tiny .json files are
    the anti-pattern — so this emits the ``pages`` input shape directly:
    ``url`` = zero-padded ``N.json`` (url sort order ≡ the reference's
    sequential write index, so downstream dense-id assignment reproduces
    its docIDs), body as ``text``. ``posexplode`` keeps the array order
    without any window or collect."""
    raw = spark.read.option("multiLine", "true").json(json_path)
    return (
        raw.select(F.posexplode("documents").alias("pos", "d"))
        .select(
            F.format_string("%09d.json", F.col("pos") + 1).alias("url"),
            F.lit(_EPOCH).alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.col("d.body").cast("string").alias("text"),
            F.lit("en").alias("lang"),
        )
    )


def topic_terms(topic: int, k: int = 5) -> list[str]:
    """The first k vocabulary words of a topic slice (for selective-query
    benchmarks over a clustered corpus)."""
    lo = _TOPIC_BASE + topic * _TOPIC_SLICE
    return _VOCAB[lo : lo + k]


def generate_pages_pdf(n_docs: int) -> pd.DataFrame:
    """Driver-local variant for small unit-test corpora and the oracle."""
    return pd.DataFrame(
        [page_row(i) for i in range(n_docs)],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )


def generate_queries(n: int = 225) -> list[tuple[int, str]]:
    """Cranfield-shaped query set over the corpus vocabulary (FIXTURES §2):
    single term, multi-term bags, OR (+), NOT (-), phrases, hyphenated,
    apostrophes, absent terms, stopword-only."""
    rng = np.random.default_rng(SEED + 1)
    out: list[tuple[int, str]] = []

    def pick(k: int) -> list[str]:
        return [_VOCAB[j] for j in rng.choice(200, k, replace=False)]

    for qid in range(n):
        kind = qid % 9
        if kind == 0:
            q = pick(1)[0]
        elif kind == 1:
            q = " ".join(pick(int(rng.integers(2, 5))))
        elif kind == 2:
            q = " + ".join(" ".join(pick(2)) for _ in range(2))
        elif kind == 3:
            a, b, c = pick(3)
            q = f"{a} {b} -{c}"
        elif kind == 4:
            q = '"' + " ".join(pick(2)) + '"'
        elif kind == 5:
            a, b = pick(2)
            q = f"{a}-{b}"
        elif kind == 6:
            q = "don't " + pick(1)[0]
        elif kind == 7:
            q = "zzzzabsent " + pick(1)[0]
        else:
            q = " ".join([_VOCAB[0], _VOCAB[1]])  # stopword-heavy
        out.append((qid, q))
    return out
