"""Golden tests for the reference-faithful text pipeline (SURVEY.md §2.2).

Fixtures were generated by *running* the actual reference engine
(compiled from /root/reference, plus its lucene-snowball-3.0.3.jar):
  - stemmer_golden.tsv: 2,800+ (word, stem) pairs from
    org.tartarus.snowball.ext.PorterStemmer
  - index_golden.json: full positional index + docWeights from
    SimpleEngine.visitAllFiles over tests/fixtures/corpus_golden/
"""

import json
import math
import os

import pytest

from searchengine_spark.text.porter import StemCache, porter_stem
from searchengine_spark.text.tokenizer import (
    build_positional_index,
    doc_ld,
    java_ws_split,
    normalize_query_token,
    strip_nonalnum,
    tokenize_events,
    tokenize_terms,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_porter_golden_exact():
    with open(os.path.join(FIX, "stemmer_golden.tsv")) as f:
        pairs = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    assert len(pairs) > 2500
    bad = [(w, g, porter_stem(w)) for w, g in pairs if porter_stem(w) != g]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


def test_stem_cache_consistent():
    c = StemCache()
    for w in ["running", "running", "ponies", "caresses"]:
        assert c.stem(w) == porter_stem(w)


def test_index_golden_exact():
    gold = json.load(open(os.path.join(FIX, "index_golden.json")))
    docs = []
    for doc_id, fname in enumerate(gold["files"]):
        body = json.load(open(os.path.join(FIX, "corpus_golden", fname)))["body"]
        docs.append((doc_id, body))
    index, weights = build_positional_index(docs)
    gidx = {t: [(d, p) for d, p in v] for t, v in gold["index"].items()}
    mine = {t: [(d, p) for d, p in v] for t, v in index.items()}
    assert gidx == mine
    for i, gw in enumerate(gold["docWeights"]):
        assert weights[i] == gw, f"Ld mismatch doc {i}"


def test_hyphen_positions():
    # term3 at P (no increment), term1 at P, term2 at P+1; next token at P+2
    ev = list(tokenize_events("state-of art"))
    assert ev == [("stateof", 1), ("state", 1), ("of", 2), ("art", 3)]


def test_empty_tokens_consume_no_position():
    ev = list(tokenize_events("--- hello !!! world"))
    assert ev == [("hello", 1), ("world", 2)]


def test_underscore_survives_strip():
    assert strip_nonalnum("_snake_case_") == "_snake_case_"
    assert tokenize_terms("snake_case") == ["snake_cas"]  # stem drops final e


def test_apostrophes_removed_after_strip():
    assert tokenize_terms("don't") == ["dont"]
    assert tokenize_terms("'quoted'") == ["quot"]


def test_leading_hyphen_stripped_index_side():
    # '-' is \W so edge strip removes it before the hyphen branch
    assert tokenize_terms("-leading") == ["lead"]
    assert tokenize_terms("trailing-") == ["trail"]


def test_query_normalization_keeps_leading_hyphen():
    assert normalize_query_token("-dogs") == "-dog"
    assert normalize_query_token("don't") == "dont"


def test_ld_formula():
    assert doc_ld({}) == 0.0
    assert doc_ld({"a": 1}) == 1.0
    assert doc_ld({"a": 2, "b": 1}) == math.sqrt((1 + math.log(2)) ** 2 + 1)


def test_java_ws_split_excludes_nbsp():
    # Java isWhitespace is false for U+00A0: token is NOT split there,
    # and \xa0 is non-word so it strips from edges.
    assert java_ws_split("a\xa0b c") == ["a\xa0b", "c"]
    assert strip_nonalnum("a\xa0b") == "a\xa0b"  # interior kept


@pytest.mark.parametrize(
    "text,terms",
    [
        ("3.14 1,000", ["3.14", "1,000"]),  # interior punctuation survives
        ("___", ["___"]),  # all-underscore is a term (word chars)
        ("NASA McCarthy", ["nasa", "mccarthi"]),
        ("run-run", ["runrun", "run", "run"]),  # duplicate positions allowed
    ],
)
def test_edge_cases(text, terms):
    assert tokenize_terms(text) == terms


def test_extract_text_byte_identical(spark, small_corpus_pdf):
    """The input_hint's per-row invariant: extract_text(html) must equal
    the ground-truth text column BYTE-identically per url, via the Arrow
    UDF path (no BatchEvalPython)."""
    from pyspark.sql import functions as F

    from searchengine_spark.text.udfs import extract_text

    pages = spark.createDataFrame(small_corpus_pdf)
    out = pages.select(
        "url",
        "text",
        extract_text(F.col("html")).alias("extracted"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    rows = out.collect()
    assert len(rows) == len(small_corpus_pdf)
    for r in rows:
        assert r["extracted"] == r["text"], r["url"]
    # generic fallback path: tag-strip + whitespace-collapse
    from searchengine_spark.text.udfs import _extract_one

    assert _extract_one(b"<div>Hello &amp; <b>world</b></div>") == "Hello & world"
    assert _extract_one(None) is None


def test_java_hashmap_order_resize():
    from searchengine_spark.text.javahash import (
        hashmap_iteration_order,
        java_string_hash,
    )

    assert java_string_hash("hello") == 99162322  # JDK-documented value
    assert java_string_hash("") == 0
    keys = [f"term{i}" for i in range(40)]  # crosses 12- and 24-entry resizes
    order = hashmap_iteration_order(keys)
    assert sorted(order) == sorted(keys)
    # iteration order is NOT insertion order once hashing kicks in
    assert order != keys


def test_hashmap_closed_form_equivalence():
    """The CLAUDE.md gate, reproducible from the repo: the closed form
    (stable sort by final-capacity bucket index) must equal the checked-in
    JDK8 bucket simulation on randomized int AND string key sequences
    crossing several resize boundaries. Default 800 trials (~1 s);
    SPARK_GRAFT_HASH_TRIALS=4000 runs the full mandated check."""
    import os
    import random

    from searchengine_spark.text.javahash import (
        hashmap_iteration_order,
        hashmap_iteration_order_ints,
        hashmap_iteration_order_sim,
        java_string_hash,
    )

    trials = int(os.environ.get("SPARK_GRAFT_HASH_TRIALS", "800"))
    rng = random.Random(20260817)
    # sizes straddling the 12/24/48/96/192/384/768 resize thresholds
    edges = [0, 1, 11, 12, 13, 24, 25, 48, 49, 96, 97, 192, 193, 384, 385, 768, 769]

    def _size():
        return edges[rng.randrange(len(edges))] if rng.random() < 0.5 else rng.randrange(0, 900)

    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789éßπ漢"
    for trial in range(trials):
        n = _size()
        if trial % 2 == 0:
            keys = list(
                {rng.randrange(-(2**31), 2**31): None for _ in range(n)}
            )
            got = hashmap_iteration_order_ints(keys)
            want = hashmap_iteration_order_sim(keys, lambda v: v)
        else:
            seen: dict[str, None] = {}
            while len(seen) < n:
                seen["".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 12)))] = None
            keys = list(seen)
            got = hashmap_iteration_order(keys)
            want = hashmap_iteration_order_sim(keys, java_string_hash)
        assert got == want, f"trial {trial} n={n}"


def _fuzz_texts(seed: int, n: int, ascii_only: bool) -> list:
    """diffcheck-shaped fuzz corpus (hyphen compounds, case noise, unicode,
    whitespace variety) plus the kernel edge cases."""
    import random
    import string

    words = (
        "state of the art vanilla shake ice cream don stop spark merge "
        "window running quick"
    ).split()
    punct = "'-_.,!?\"()"
    # boundary NON-members of the Java whitespace class (figure space,
    # narrow NBSP, NBSP, zero-width space): must stay INSIDE tokens on
    # both the Python-re and the RE2 side, so they probe the class edges
    non_ws = "   ​"
    uni = "éüßñ漢字🙂" + non_ws
    rng = random.Random(seed)

    def tok():
        if rng.random() < 0.55:
            w = rng.choice(words)
            if rng.random() < 0.3:
                w = w.capitalize() if rng.random() < 0.5 else w.upper()
            return w
        pool = string.ascii_letters + string.digits * 2 + punct
        if not ascii_only:
            pool += uni
        return "".join(rng.choice(pool) for _ in range(rng.randint(1, 10)))

    docs = []
    for _ in range(n):
        toks = []
        for _ in range(rng.randint(0, 60)):
            t = tok()
            if rng.random() < 0.2:
                t = t + "-" + tok()
            toks.append(t)
        # separator pool spans the FULL Java whitespace class (ADVICE r4:
        # ascii-only seps would let a mis-spelled RE2 \x{…} range pass) —
        # every \u member of tokenizer._JAVA_WS appears, incl. the range
        # endpoints around the   hole and the control block
        uni_seps = [
            "\x0b", "\x0c", "\r", "\x1c", "\x1f",
            " ", " ", " ", " ", " ",
            " ", " ", " ", "　",
        ]
        sep = lambda: rng.choice(
            [" ", " ", " ", "\t", "\n", "  "]
            + ([rng.choice(uni_seps)] if not ascii_only else [])
        )
        docs.append(
            (toks[0] + "".join(sep() + t for t in toks[1:])) if toks else ""
        )
    docs += ["", None, "   ", "don't stop-me_now", "aa-aa aa", "x-" , "-x"]
    return docs


def _tokenize_reference(text):
    """Per-doc (terms, dl, Ld) straight from the pure-Python pipeline:
    terms in first-occurrence order, positions in occurrence order."""
    acc: dict[str, list[int]] = {}
    for term, pos in tokenize_events(text or ""):
        acc.setdefault(term, []).append(pos)
    terms = [{"term": t, "tf": len(ps), "positions": ps} for t, ps in acc.items()]
    dl = sum(len(ps) for ps in acc.values())
    return terms, dl, doc_ld({t: len(ps) for t, ps in acc.items()})


def test_tokenize_columnar_matches_tokenizer_reference():
    """The mapInArrow build kernel (text/udfs._tokenize_batch_columnar)
    must reproduce text/tokenizer EXACTLY — tokenize_events aggregated
    per doc, dl, and Ld compared BITWISE against doc_ld (the rank-level
    fold must replay its sequential HashMap-order summation;
    np.sum/np.add.reduceat are pairwise and would flip low bits). The
    reference splits with the Python-re Java-whitespace class, so this
    also pins the kernel's RE2 spelling of it. tokenizer is itself
    pinned, through diffcheck, to the compiled Java reference."""
    import struct as st

    from searchengine_spark.text.udfs import _tokenize_batch_columnar

    for seed in (11, 12):
        for ascii_only in (True, False):
            texts = _fuzz_texts(seed, 250, ascii_only)
            terms, dl, ld = _tokenize_batch_columnar(texts)
            got_terms = terms.to_pylist()
            for i, text in enumerate(texts):
                want_terms, want_dl, want_ld = _tokenize_reference(text)
                assert got_terms[i] == want_terms, text
                assert dl[i] == want_dl, text
                assert st.pack("<d", ld[i]) == st.pack("<d", want_ld), text


def test_tokenize_columnar_empty_batch():
    from searchengine_spark.text.udfs import _tokenize_batch_columnar

    terms, dl, ld = _tokenize_batch_columnar([])
    assert len(terms) == 0 and len(dl) == 0 and len(ld) == 0
