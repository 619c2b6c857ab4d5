"""Reference-faithful text pipeline (SURVEY.md §2.2, T1–T9).

Reproduces, token-for-token and position-for-position, the reference
index-side pipeline of ``Milestone1/SimpleEngine.indexFile``
(``SimpleEngine.java:105-163``) and ``Milestone1/SimpleTokenStream``
(``SimpleTokenStream.java:47-58``):

  T1 whitespace split (java.util.Scanner default delimiter)
  T2 edge strip of ``\\W`` (ASCII ``[^A-Za-z0-9_]``) — '_' survives
  T4 apostrophe removal (after strip)
  T5 hyphen 3-way expansion: concat-term at position P (no increment),
     prefix at P (then P+1), suffix at P+1 (then P+2)
  T6 lowercase, T7 Snowball-porter stem, T8 empty-term drop
  T9 query-side normalization (different edge regex; keeps leading '-')

Positions are 1-based (``SimpleEngine.java:117``).

These are plain-Python kernels; the Spark-facing vectorized wrappers live
in :mod:`searchengine_spark.text.udfs` (Arrow-batched pandas UDFs — no
per-row Python at the DataFrame boundary).
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable, Iterator

from .javahash import hashmap_iteration_order
from .porter import StemCache, porter_stem

# Java Character.isWhitespace: Unicode Zs/Zl/Zp except NBSP u00A0, figure
# space u2007, narrow NBSP u202F; plus \t \n \x0b \f \r and \x1c-\x1f.
_JAVA_WS = re.compile(
    "[\\t\\n\\x0b\\f\\r\\x1c-\\x1f \\u1680\\u2000-\\u2006"
    "\\u2008-\\u200a\\u2028\\u2029\\u205f\\u3000]+"
)

# Java default (non-UNICODE_CHARACTER_CLASS) \W == ASCII [^A-Za-z0-9_].
# re.ASCII gives Python \w/\W the identical meaning.
_EDGE_STRIP = re.compile(r"([^\w]*)(.*?)([^\w]*)", re.ASCII)
# Query-side variant (SimpleEngine.java:36): keeps a LEADING '-' (NOT
# operator) and, unlike \W, strips '_' from both edges.
_EDGE_STRIP_QUERY = re.compile(r"([^a-zA-Z0-9-]*)(.*?)([^a-zA-Z0-9]*)")


def java_ws_split(text: str) -> list[str]:
    """T1: java.util.Scanner.next() token sequence."""
    return [t for t in _JAVA_WS.split(text) if t]


def strip_nonalnum(token: str) -> str:
    """T2: ``^([\\W]*)(.*?)([\\W]*)$`` → group 2 (SimpleEngine.java:35,170-175).

    Fast path: an ASCII-alnum token has no strippable edge (every char is
    ``\\w``), which covers the vast majority of web tokens without a
    regex call. '_' and unicode fall through to the exact regex."""
    if token.isascii() and token.isalnum():
        return token
    m = _EDGE_STRIP.fullmatch(token)
    return m.group(2) if m else token


def strip_for_query(token: str) -> str:
    """T3: query-side edge strip (SimpleEngine.java:36,183-186)."""
    m = _EDGE_STRIP_QUERY.fullmatch(token)
    return m.group(2) if m else token


def remove_apostrophes(token: str) -> str:
    """T4 (SimpleEngine.java:202-209)."""
    return token.replace("'", "")


def token_events(raw: str, stem: Callable[[str], str]) -> tuple:
    """(term, advance) pairs for ONE raw scanner token — the pure
    per-token kernel of :func:`tokenize_events` (SimpleEngine.java:118-153).
    ``advance`` is how far the position cursor moves AFTER emitting the
    term at the current position; the hyphen concat term advances 0
    (SimpleEngine.java:132). A pure function of the raw token, so the
    Arrow batch kernel memoizes it per distinct raw token
    (``text/udfs._tokenize_batch_columnar``) — Zipf text makes that a
    dict hit on the vast majority of tokens."""
    tok = strip_nonalnum(raw)  # SimpleTokenStream.nextToken (T2)
    if not tok:
        return ()  # empty tokens are skipped, no position consumed (T8)
    # SimpleEngine.java:119 re-strips before removing apostrophes, but
    # edge-stripping is idempotent (post-strip edges are \w), so the
    # second strip is provably a no-op — skipped on the hot path
    tok = remove_apostrophes(tok)
    out = []
    if "-" in tok and len(tok) > 1:
        i = tok.index("-")
        t1 = tok[:i].lower()
        t2 = tok[i + 1 :].lower()
        t3 = tok.replace("-", "").lower()
        if t1 and t2 and t3:
            term1 = stem(remove_apostrophes(strip_nonalnum(t1)))
            term2 = stem(remove_apostrophes(strip_nonalnum(t2)))
            term3 = stem(remove_apostrophes(strip_nonalnum(t3)))
            if term3:
                out.append((term3, 0))  # no increment (SimpleEngine.java:132)
            if term1:
                out.append((term1, 1))
            if term2:
                out.append((term2, 1))
    elif "-" not in tok:
        term = stem(tok.lower())
        if term:
            out.append((term, 1))
    return tuple(out)


def tokenize_events(
    text: str, stem: Callable[[str], str] | None = None
) -> Iterator[tuple[str, int]]:
    """Yield (term, position) events in exactly the order the reference
    feeds ``PositionalIndex.addTerm`` (SimpleEngine.java:118-153).

    The hyphen branch (T5) emits the concatenated term at the *current*
    position without incrementing, then prefix (increment), then suffix
    (increment); the all-three-nonempty gate applies to the raw lowercase
    splits, and each split is re-stripped + apostrophe-cleaned + stemmed.
    Per-token logic lives in :func:`token_events`.
    """
    if stem is None:
        stem = porter_stem
    pos = 1
    for raw in java_ws_split(text):
        for term, adv in token_events(raw, stem):
            yield (term, pos)
            pos += adv


def tokenize_terms(text: str, stem: Callable[[str], str] | None = None) -> list[str]:
    """Term sequence only (positions dropped) — the common analytics path."""
    return [t for t, _ in tokenize_events(text, stem)]


def normalize_query_token(token: str, stem: Callable[[str], str] | None = None) -> str:
    """T9: ``normalizeToken`` — strip-for-query + apostrophe removal + stem,
    NO lowercase (callers lowercase the whole query string up front;
    BooleanQueryParser.java:129-133, RankedQueryParser.java:76-77)."""
    if stem is None:
        stem = porter_stem
    return stem(remove_apostrophes(strip_for_query(token)))


def doc_ld(term_freqs: dict[str, int]) -> float:
    """Euclidean doc weight Ld = sqrt(Σ (1+ln tf)²); 0.0 for an empty doc
    (SimpleEngine.java:251-264).

    Bit-identity note: float64 summation is order-dependent and the
    reference iterates a ``HashMap`` keySet. ``term_freqs`` preserves
    first-occurrence (insertion) order, so we replay Java's HashMap
    iteration order before summing — Ld then matches the reference's
    ``docWeights.bin`` doubles bit-for-bit."""
    if not term_freqs:
        return 0.0
    total = 0.0
    for term in hashmap_iteration_order(list(term_freqs)):
        w = 1.0 + math.log(term_freqs[term])
        total += w * w
    return math.sqrt(total)


def build_positional_index(
    docs: list[tuple[int, str]]
) -> tuple[dict[str, list[tuple[int, list[int]]]], dict[int, float]]:
    """In-memory replay of the reference build: docs = [(doc_id, text)]
    processed in the given order. Returns (index, doc_weights) with the
    same append-only posting construction as ``PositionalIndex.addTerm``
    (PositionalIndex.java:21-49). Used by tests and the NumPy oracle —
    NOT a Spark path."""
    cache = StemCache()
    index: dict[str, list[tuple[int, list[int]]]] = {}
    weights: dict[int, float] = {}
    for doc_id, text in docs:
        tf: dict[str, int] = {}
        for term, p in tokenize_events(text, cache.stem):
            plist = index.setdefault(term, [])
            if plist and plist[-1][0] == doc_id:
                plist[-1][1].append(p)
            else:
                plist.append((doc_id, [p]))
            tf[term] = tf.get(term, 0) + 1
        weights[doc_id] = doc_ld(tf)
    return index, weights
