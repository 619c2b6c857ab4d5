"""Boolean / phrase query engine (SURVEY.md §2.4 J1-J5, §2.7 Q1-Q7).

One planner, two backends. The planner replays the reference's
recursive-descent evaluation (``Milestone2/BooleanQueryParser.java:32-117``,
which M1/M3 copy line-for-line) EXACTLY, including its observable quirks:

  * query lowercased + trimmed up front (``BooleanQueryParser.java:33``)
  * validation: every OR-branch needs ≥1 positive literal, else the whole
    query yields nothing (``:367-404``)
  * ``+`` splits OR branches; null branches are skipped before the union
    (``:46-55``)
  * ``optimizeQuery`` re-tokenizes the subquery through the pattern
    ``(-?".*?")|(-?[a-zA-Z0-9]+)`` putting positives first / negatives
    last (``:414-441``) — as a side effect punctuation AND underscores
    are dropped from bare tokens in the phrase and space-AND branches
  * in ``parseAND``, a literal whose term is absent from the index makes
    the WHOLE subquery null — even when the literal is a NOT
    (``:158-159,173-174``)
  * a phrase group with zero hits is silently dropped from the enclosing
    AND instead of emptying it (``:66-67,92-99``)
  * hyphens inside boolean literals are deleted, producing one
    concatenated term (``:113-117,148-169``) — unlike the ranked parser's
    3-way expansion
  * phrase adjacency: fold with k incremented per extra term, keeping the
    FIRST term's match positions (``:235-305``)

Backends implement only posting-list lookup and the J1-J5 merges:

  * :class:`SparkBackend` — lazy DataFrame composition; literal lookup is
    a term-filtered (bucket/rowgroup-pruned) scan of the postings table,
    AND/NOT/OR are joins on ``doc_id``, phrase adjacency is a JVM
    higher-order-function filter over position arrays. The whole query
    compiles to ONE Spark job (plus one upfront lexicon probe and an
    ``isEmpty`` probe per phrase group, mirroring ``mergedLiteral.size()``).
  * the test oracle backend lives in
    :mod:`searchengine_spark.oracle.boolmodel` (sorted-list merges, pure
    Python) — same planner, so any divergence is a backend bug.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, functions as F

from ..text.tokenizer import normalize_query_token

# the reference's token pattern, BooleanQueryParser.java:22
_TOKEN_RE = re.compile(r'(-?".*?")|(-?[a-zA-Z0-9]+)')


def _java_split(s: str, sep: str) -> list[str]:
    """Java String.split: trailing empty strings removed, others kept."""
    parts = s.split(sep)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def _scan_tokens(query: str) -> list[tuple[int, str]]:
    """Yield (group_index, token) in order, like Matcher.find() over
    BooleanQueryParser.java:22's pattern."""
    out = []
    for m in _TOKEN_RE.finditer(query):
        if m.group(1) is not None:
            out.append((1, m.group(1)))
        else:
            out.append((2, m.group(2)))
    return out


def optimize_query(query: str) -> str:
    """Positive literals first, negatives last (BooleanQueryParser.java:414-441).
    Rebuilds the query from the token scan — anything the pattern does not
    match (punctuation, '_') is dropped, exactly as the reference does."""
    queue: list[str] = []
    stack: list[str] = []
    for g, tok in _scan_tokens(query):
        if g == 1:
            (queue if tok.find('"') == 0 else stack).append(tok.strip())
        else:
            (stack if tok.find("-") == 0 else queue).append(tok.strip())
    queue.extend(reversed(stack))
    return " ".join(queue).strip()


def validate_query(query: str) -> bool:
    """Every OR-branch must contain ≥1 positive literal
    (BooleanQueryParser.java:367-404)."""
    positive = 0
    if "+" in query:
        if all(validate_query(s.strip()) for s in _java_split(query, "+")):
            positive += 1
    elif '"' in query:
        for g, tok in _scan_tokens(query):
            if g == 1:
                if tok.find('"') == 0:
                    positive += 1
            elif tok.find("-") != 0:
                positive += 1
    elif " " in query:
        if any(validate_query(s.strip()) for s in _java_split(query, " ")):
            positive += 1
    elif not query.startswith("-"):
        positive += 1
    return positive > 0


class BooleanPlanner:
    """Backend-agnostic replay of BooleanQueryParser.parseQuery.

    A backend provides:
      lookup(term, with_positions) -> plist | None   (None = term absent)
      and_merge(a, b)          J1, keeps a's positions
      or_merge(a, b)           J2, keeps a's positions on ties
      andnot(a, b)             J3
      phrase_merge(a, b, k)    J4, keeps a's positions where pos+k in b
      is_empty(plist) -> bool
    """

    def __init__(self, backend: Any) -> None:
        self.b = backend

    def execute(self, query: str):
        """Returns a plist (backend representation) or None."""
        return self._parse(query, valid=False)

    # -- parseQuery, BooleanQueryParser.java:32-118 --------------------------
    def _parse(self, query: str, valid: bool):
        query = query.lower().strip()
        if not valid:
            if not validate_query(query):
                return None
            valid = True
        if len(query) < 1:
            return None
        if "+" in query:
            results = []
            for sub in _java_split(query, "+"):
                r = self._parse(sub.strip(), valid)
                if r is not None:
                    results.append(r)
            return self._union(results)
        if '"' in query:
            query = optimize_query(query)
            final_list: list = []
            not_list: list = []
            for g, tok in _scan_tokens(query):
                if g == 1:
                    sub = tok.replace('"', "").replace("-", "").strip()
                    merged = self._parse_and(sub, "literal")
                    if tok.find('"') == 0:
                        if merged is not None and not self.b.is_empty(merged):
                            final_list.append(merged)
                    elif merged is not None:
                        not_list.append(merged)
                elif tok.find("-") != 0:
                    p = self._parse(tok.replace("-", "").strip(), valid)
                    if p is not None:
                        final_list.append(p)
                else:
                    p = self.b.lookup(
                        normalize_query_token(tok.replace("-", "").strip()), False
                    )
                    if p is not None:
                        not_list.append(p)
            if len(final_list) == 1:
                merged = final_list[0]
            elif len(final_list) > 1:
                merged = self._and_full(final_list)
            else:
                return None
            for nl in not_list:
                merged = self.b.andnot(merged, nl)
            return merged
        if " " in query:
            return self._parse_and(optimize_query(query), "and")
        if "-" in query:
            query = query.replace("-", "")
        return self.b.lookup(normalize_query_token(query), False)

    # -- parseAND, BooleanQueryParser.java:143-191 ---------------------------
    def _parse_and(self, query: str, qtype: str):
        with_pos = qtype == "literal"
        merge_list: list = []
        not_list: list = []
        for sub in _java_split(query, " "):
            if sub.find("-") == 0:
                p = self.b.lookup(
                    normalize_query_token(sub[1:].replace("-", "")), with_pos
                )
                if p is None:
                    return None  # absent NOT term nulls the subquery (:158-159)
                not_list.append(p)
            else:
                p = self.b.lookup(
                    normalize_query_token(sub.replace("-", "")), with_pos
                )
                if p is None:
                    return None
                merge_list.append(p)
        merged = None
        if len(merge_list) > 1:
            if qtype == "literal":
                merged = merge_list[0]
                for i, nxt in enumerate(merge_list[1:], start=1):
                    merged = self.b.phrase_merge(merged, nxt, i)
            else:
                merged = self._and_full(merge_list)
        elif len(merge_list) == 1:
            merged = merge_list[0]
        for nl in not_list:
            if merged is None:
                # The reference NPE-crashes here (removeNotList(null, …),
                # BooleanQueryParser.java:188,453): reachable when
                # optimizeQuery's re-tokenization drops every positive
                # token (e.g. "((( -word") yet validation passed on the
                # raw query. We define the result as no-match; the
                # differential harness records the Java crash and asserts
                # our empty result for such queries.
                return None
            merged = self.b.andnot(merged, nl)
        return merged

    def _and_full(self, lists: list):
        merged = self.b.and_merge(lists[0], lists[1])
        for nxt in lists[2:]:
            merged = self.b.and_merge(merged, nxt)
        return merged

    # -- findUnionOfStack, BooleanQueryParser.java:311-360 -------------------
    def _union(self, results: list):
        if not results:
            return None
        merged = results[0]
        for nxt in results[1:]:
            merged = self.b.or_merge(merged, nxt)
        return merged


# ----------------------------------------------------------------------------
# Spark backend
# ----------------------------------------------------------------------------

class _RecordingBackend:
    """Dry-run backend: records every term the planner would look up.
    Always 'present' and 'non-empty', so it traverses a superset of the
    real run's lookups."""

    def __init__(self) -> None:
        self.terms: set[str] = set()

    def lookup(self, term, with_positions):
        self.terms.add(term)
        return ("t", term)

    def and_merge(self, a, b):
        return a

    def or_merge(self, a, b):
        return a

    def andnot(self, a, b):
        return a

    def phrase_merge(self, a, b, k):
        return a

    def is_empty(self, p):
        return False


class SparkBackend:
    """Lazy DataFrame plists: columns (doc_id long, positions array<int>).

    All lookups filter ONE shared decoded-postings DataFrame for the
    query's candidate terms (discovered by a dry run), so the final plan
    contains a single bucket-pruned postings scan per literal — Catalyst
    pushes `term = 'x'` into each branch's parquet scan."""

    def __init__(self, idx) -> None:
        self.idx = idx
        self.base: DataFrame | None = None
        self.present: set[str] = set()

    def prepare(self, terms: set[str]) -> None:
        terms = {t for t in terms if t}
        if not terms:
            self.present = set()
            return
        # presence via the handle's RAM df memo — no Spark job per query
        self.present = set(self.idx.term_dfs(sorted(terms)))
        if self.present:
            from .exec import decoded_postings

            self.base = decoded_postings(
                self.idx, sorted(self.present), ("docs_vb", "tfs_vb", "pos_vb")
            )

    def lookup(self, term: str, with_positions: bool):
        if term not in self.present:
            return None
        out = self.base.filter(F.col("term") == term)
        if with_positions:
            return out.select("doc_id", "positions")
        return out.select("doc_id", F.lit(None).cast("array<int>").alias("positions"))

    def and_merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b.select("doc_id"), "doc_id", "inner")

    def or_merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        bb = b.withColumnRenamed("positions", "_p2")
        return (
            a.join(bb, "doc_id", "full_outer")
            .select("doc_id", F.coalesce("positions", "_p2").alias("positions"))
        )

    def andnot(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b.select("doc_id"), "doc_id", "left_anti")

    def phrase_merge(self, a: DataFrame, b: DataFrame, k: int) -> DataFrame:
        """J4: keep a's positions p where p+k is a position of b in the
        same doc (two-pointer merge ≡ set logic on strictly-increasing
        position lists, BooleanQueryParser.java:248-284)."""
        bb = b.select("doc_id", F.col("positions").alias("_p2"))
        hit = a.join(bb, "doc_id", "inner").select(
            "doc_id",
            F.filter(
                F.col("positions"),
                lambda p: F.array_contains(F.col("_p2"), p + F.lit(k)),
            ).alias("positions"),
        )
        return hit.where(F.size("positions") > 0)

    def is_empty(self, p: DataFrame) -> bool:
        return p.isEmpty()


def near_query(idx, term_a: str, term_b: str, k: int, with_urls: bool = True) -> DataFrame:
    """NEAR/k: docs where (normalized) term_b occurs within 1..k positions
    AFTER term_a — the generalization the reference's phrase merge was
    built for but never exposed (``BooleanQueryParser.java:138-139,232``:
    "Can be increased to extend and implement a near/k query"). k=1 is
    exactly the phrase operator J4."""
    spark = idx.spark
    backend = SparkBackend(idx)
    ta = normalize_query_token(term_a.lower().strip())
    tb = normalize_query_token(term_b.lower().strip())
    backend.prepare({ta, tb})
    a, b = backend.lookup(ta, True), backend.lookup(tb, True)
    out = None
    if a is not None and b is not None:
        merged = None
        for kk in range(1, k + 1):
            m = backend.phrase_merge(a, b, kk)
            merged = m if merged is None else backend.or_merge(merged, m)
        out = merged.select("doc_id")
    if out is None:
        out = spark.createDataFrame([], "doc_id long")
    if with_urls:
        out = out.join(idx.docs.select("doc_id", "url"), "doc_id")
    return out.orderBy("doc_id")


def boolean_query(idx, query: str, with_urls: bool = True) -> DataFrame:
    """Execute a boolean/phrase query against a built index; returns a
    DataFrame (doc_id [, url]) in ascending doc_id order — the reference's
    result shape (docID-sorted full list, no limit; QueryFrame.java:259-262)."""
    spark = idx.spark
    rec = _RecordingBackend()
    BooleanPlanner(rec).execute(query)
    backend = SparkBackend(idx)
    backend.prepare(rec.terms)
    plist = BooleanPlanner(backend).execute(query)
    if plist is None:
        out = spark.createDataFrame([], "doc_id long")
    else:
        out = plist.select("doc_id")
    if with_urls:
        out = out.join(idx.docs.select("doc_id", "url"), "doc_id")
    return out.orderBy("doc_id")
