"""Arrow-batched (pandas) UDFs — the only Python↔JVM boundary the engine
uses. Per-row Python UDFs are banned (input_hint; audit: ``df.explain()``
must show ArrowEvalPython, never BatchEvalPython).

Layers:
  - ``extract_text``      html binary → text (the reference's "extraction"
    is JSON-field access, SimpleEngine.java:114; our web-page analogue is
    a deterministic template parse with a generic tag-strip fallback —
    byte-identical to the ``text`` column per url, tested)
  - ``tokenized_docs_arrow``  text → per-doc aggregated term vector
    (term, tf, positions[]) + dl + Ld in ONE mapInArrow pass: (term, doc)
    is pre-aggregated inside the kernel, so downstream stages see
    per-doc-term entries, never per-token rows
  - ``shingled_docs_arrow``   text → distinct 3-token shingles per doc
    (the dedup/LSH feeder)
"""

from __future__ import annotations

import html as _html
import math
import re

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .javahash import _final_capacity, spread_string_hash
from .porter import StemCache
from .tokenizer import token_events

# --------------------------------------------------------------------------
# extract_text
# --------------------------------------------------------------------------

_BODY_P = re.compile(rb"<p>(.*?)</p>", re.S)
_TAG = re.compile(r"<[^>]+>")
_WS_RUN = re.compile(r"\s+")


def _extract_one(b: bytes | None) -> str | None:
    if b is None:
        return None
    m = _BODY_P.search(b)
    if m is not None:  # our corpus template: exact inverse of generation
        return _html.unescape(m.group(1).decode("utf-8"))
    # generic fallback: strip tags, collapse whitespace
    txt = _TAG.sub(" ", b.decode("utf-8", errors="replace"))
    return _WS_RUN.sub(" ", _html.unescape(txt)).strip()


@F.pandas_udf(T.StringType())
def extract_text(html_col: pd.Series) -> pd.Series:
    return html_col.map(_extract_one)


# --------------------------------------------------------------------------
# Columnar tokenize: text -> (terms[], dl, ld), the Arrow-native build kernel
# --------------------------------------------------------------------------

# array<struct<term, tf, positions>>: one entry per distinct term of a
# doc, in first-occurrence order, positions in occurrence order
TERMS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.IntegerType()),
            T.StructField("positions", T.ArrayType(T.IntegerType())),
        ]
    )
)

# Semantics: text/tokenizer.tokenize_events aggregated per doc, dl = the
# event count and ld = tokenizer.doc_ld (pinned by
# tests/test_text_pipeline.py::test_tokenize_columnar_matches_tokenizer_reference
# on fuzz corpora, ld compared BITWISE). The per-token-event work is
# factorize + numpy segment ops + direct pyarrow ListArray construction:
# zero per-event Python objects (a per-doc dict kernel spent ~2/3 of the
# docs phase on Python object churn — profiled 9.6 s/100k docs building
# {"term","tf","positions"} dicts alone).
#
# Bit-identity notes (the same traps CLAUDE.md pins elsewhere):
#   - Ld fold: Java sums (1+ln tf)² in HashMap-replay order; here each
#     doc's fold runs as a RANK-LEVEL loop (level j adds every doc's j-th
#     replayed weight via one vectorized gather-add), which replays the
#     sequential left fold from 0.0 exactly. np.add.reduceat/np.sum are
#     PAIRWISE and would flip low bits — verified and avoided.
#   - (1+math.log(tf))² comes from a per-distinct-tf table built with
#     math.log (np.log is a different SIMD polynomial; same trap as the
#     kernel-rounding gotcha), squared as w*w exactly like doc_ld.

_TOKEN_EVENTS_MEMO: dict[str, tuple] = {}

# RE2 spelling of tokenizer._JAVA_WS (pyarrow's split_pattern_regex is
# RE2: \u escapes must be \x{…}); equivalence to the Python re is pinned
# by test_tokenize_columnar_matches_tokenizer_reference (the reference
# splits with the Python pattern, tokenizer.java_ws_split)
_JAVA_WS_RE2 = (
    "[\\t\\n\\x{0b}\\x{0c}\\r\\x{1c}-\\x{1f} \\x{1680}\\x{2000}-\\x{2006}"
    "\\x{2008}-\\x{200a}\\x{2028}\\x{2029}\\x{205f}\\x{3000}]+"
)


def _tokenize_batch_columnar(texts) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """texts: sequence of str|None → (terms ListArray, dl int32, ld float64).

    The returned ``terms`` is the same array<struct<term,tf,positions>>
    layout TERMS_TYPE declares, built directly as Arrow buffers.

    Per-batch bound: list offsets are int32 (matching Spark's non-large
    Arrow list layout), so one input batch may carry at most 2^31-1
    token EVENTS (positions) total. Spark's default
    maxRecordsPerBatch=10000 would need ~215k tokens/doc average to hit
    it; failure is a loud pyarrow overflow at conversion, never silent
    corruption. Feeding this kernel outside Spark with pathological
    batches: chunk to < 2^31 events yourself.
    """
    n = len(texts)
    empty_terms_type = pa.list_(
        pa.struct(
            [
                ("term", pa.string()),
                ("tf", pa.int32()),
                ("positions", pa.list_(pa.int32())),
            ]
        )
    )
    if n == 0:
        return (
            pa.array([], type=empty_terms_type),
            np.zeros(0, dtype=np.int32),
            np.zeros(0, dtype=np.float64),
        )
    # T1 split entirely Arrow-side (C++ RE2 + flatten + filter +
    # dictionary-encode — the Python re.split/listcomp/factorize path
    # cost ~0.8 s per 20k docs, this ~0.5 s including the encode)
    texts_arr = (
        texts if isinstance(texts, pa.Array) else pa.array(texts, type=pa.string())
    )
    import pyarrow.compute as pc

    sp = pc.split_pattern_regex(texts_arr, pattern=_JAVA_WS_RE2)
    flat_all = pc.list_flatten(sp)  # null texts/lists contribute nothing
    nonempty = pc.not_equal(flat_all, "")
    tok_arr = pc.filter(flat_all, nonempty)
    tok_doc = (
        pc.filter(pc.list_parent_indices(sp), nonempty)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )

    # per-UNIQUE-raw-token events (memoized across batches — pure function
    # of the raw token, see tokenizer.token_events)
    memo = _TOKEN_EVENTS_MEMO
    if len(memo) > 1_000_000:  # bound worker memory on open vocabularies
        memo.clear()
    stems = StemCache()
    term_tid: dict[str, int] = {}
    term_list: list[str] = []
    if len(tok_arr):
        de = tok_arr.dictionary_encode()
        codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        uniques = de.dictionary.to_pylist()
        u_counts = np.empty(len(uniques), dtype=np.int64)
        u_tid_flat: list[int] = []
        u_adv_flat: list[int] = []
        for ui, raw in enumerate(uniques):
            ev = memo.get(raw)
            if ev is None:
                ev = token_events(raw, stems.stem)
                memo[raw] = ev
            u_counts[ui] = len(ev)
            for term, adv in ev:
                tid = term_tid.get(term)
                if tid is None:
                    tid = len(term_list)
                    term_tid[term] = tid
                    term_list.append(term)
                u_tid_flat.append(tid)
                u_adv_flat.append(adv)
        u_off = np.concatenate(([0], np.cumsum(u_counts)))
        u_tid = np.asarray(u_tid_flat, dtype=np.int64)
        u_adv = np.asarray(u_adv_flat, dtype=np.int64)
        # expand events per token occurrence (order preserved)
        occ_cnt = u_counts[codes]
        E = int(occ_cnt.sum())
        seg_off = np.concatenate(([0], np.cumsum(occ_cnt)))
        ev_flat = np.repeat(u_off[:-1][codes] - seg_off[:-1], occ_cnt) + np.arange(E)
        ev_tid = u_tid[ev_flat]
        ev_adv = u_adv[ev_flat]
        ev_doc = np.repeat(tok_doc, occ_cnt)
    else:
        E = 0
        ev_tid = ev_adv = ev_doc = np.zeros(0, dtype=np.int64)

    # positions: event i sits at 1 + Σ advs of previous events in its doc
    # (tokenize_events records pos BEFORE advancing by adv)
    prev = np.cumsum(ev_adv) - ev_adv
    dl = np.bincount(ev_doc, minlength=n).astype(np.int64)
    doc_ev_off = np.concatenate(([0], np.cumsum(dl)))
    doc_base = np.zeros(n, dtype=np.int64)
    nz = dl > 0
    doc_base[nz] = prev[doc_ev_off[:-1][nz]]
    pos = 1 + prev - np.repeat(doc_base, dl)

    # group events by (doc, term): stable, so within-group position order
    # is occurrence order, and each group's first element is its first
    # occurrence — the first-occurrence term order doc_ld's replay expects
    order1 = np.lexsort((ev_tid, ev_doc))
    s_doc = ev_doc[order1]
    s_tid = ev_tid[order1]
    s_pos = pos[order1]
    if E:
        newg = np.concatenate(
            ([True], (s_doc[1:] != s_doc[:-1]) | (s_tid[1:] != s_tid[:-1]))
        )
        g_start = np.flatnonzero(newg)
    else:
        g_start = np.zeros(0, dtype=np.int64)
    G = len(g_start)
    g_cnt = np.diff(np.append(g_start, E))
    g_doc = s_doc[g_start] if G else np.zeros(0, dtype=np.int64)
    g_tid = s_tid[g_start] if G else np.zeros(0, dtype=np.int64)
    g_first = order1[g_start] if G else np.zeros(0, dtype=np.int64)
    # groups within each doc ordered by first occurrence (insertion order)
    order2 = np.lexsort((g_first, g_doc))
    g2_doc = g_doc[order2]
    g2_tid = g_tid[order2]
    g2_cnt = g_cnt[order2]
    g2_start = g_start[order2]
    # flatten positions in (doc, insertion-ordered group, occurrence) order
    p_off = np.concatenate(([0], np.cumsum(g2_cnt)))
    gather = np.repeat(g2_start - p_off[:-1], g2_cnt) + np.arange(E)
    final_pos = s_pos[gather]
    doc_g = np.bincount(g2_doc, minlength=n).astype(np.int64)
    t_off = np.concatenate(([0], np.cumsum(doc_g)))

    # ---- Ld: HashMap-order replay + rank-level sequential fold ----
    if G:
        tid_hash = np.fromiter(
            (spread_string_hash(t) for t in term_list),
            dtype=np.int64,
            count=len(term_list),
        )
        masks = np.empty(n, dtype=np.int64)
        for c in np.unique(doc_g):
            masks[doc_g == c] = _final_capacity(int(c)) - 1
        bucket = tid_hash[g2_tid] & np.repeat(masks, doc_g)
        order3 = np.lexsort((bucket, g2_doc))  # stable ⇒ replay order per doc
        s3_doc = g2_doc[order3]
        max_tf = int(g2_cnt.max())
        w_tab = np.zeros(max_tf + 1, dtype=np.float64)
        for tf in range(1, max_tf + 1):
            w = 1.0 + math.log(tf)
            w_tab[tf] = w * w
        w2 = w_tab[g2_cnt[order3]]
        rank3 = np.arange(G) - np.repeat(t_off[:-1], doc_g)
        orderL = np.lexsort((s3_doc, rank3))  # level-major
        lw = w2[orderL]
        ldoc = s3_doc[orderL]
        lrank = rank3[orderL]
        total = np.zeros(n, dtype=np.float64)
        bounds = np.concatenate(
            ([0], np.flatnonzero(lrank[1:] != lrank[:-1]) + 1, [G])
        )
        for li in range(len(bounds) - 1):
            s, e = bounds[li], bounds[li + 1]
            # one doc at most once per level ⇒ gather-add is exact and
            # level order == per-doc sequential fold order
            total[ldoc[s:e]] = total[ldoc[s:e]] + lw[s:e]
        ld = np.sqrt(total)
    else:
        ld = np.zeros(n, dtype=np.float64)

    # ---- Arrow assembly (no per-event Python objects) ----
    term_arr = pa.array(term_list, type=pa.string())
    g_term = term_arr.take(pa.array(g2_tid, type=pa.int64()))
    pos_list = pa.ListArray.from_arrays(
        pa.array(p_off, type=pa.int32()),
        pa.array(final_pos, type=pa.int32()),
    )
    struct = pa.StructArray.from_arrays(
        [g_term, pa.array(g2_cnt, type=pa.int32()), pos_list],
        ["term", "tf", "positions"],
    )
    terms = pa.ListArray.from_arrays(pa.array(t_off, type=pa.int32()), struct)
    return terms, dl.astype(np.int32), ld


def tokenized_docs_arrow(df, passthrough: tuple[str, ...] | None = None):
    """``df`` (must carry a string ``text`` column) → docs frame
    ``passthrough… + (dl, ld, terms)`` via ``mapInArrow`` with the
    columnar kernel. Partition-preserving (narrow), so the zero-shuffle
    build fast path is untouched; passthrough columns cross the boundary
    as unmodified Arrow buffers."""
    if passthrough is None:
        passthrough = tuple(c for c in df.columns if c != "text")
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in passthrough]
        + [
            # dl = Σ tf (term-event count, the BM25 doc length we
            # define; includes hyphen-expansion concat terms)
            T.StructField("dl", T.IntegerType()),
            # ld = reference Ld (float64, Java-HashMap-order summation)
            T.StructField("ld", T.DoubleType()),
            T.StructField("terms", TERMS_TYPE),
        ]
    )
    cols = list(passthrough)

    def run(batches):
        for b in batches:
            terms, dl, ld = _tokenize_batch_columnar(b.column("text"))
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in cols]
                + [pa.array(dl, type=pa.int32()), pa.array(ld), terms],
                cols + ["dl", "ld", "terms"],
            )

    return df.mapInArrow(run, out_schema)


# --------------------------------------------------------------------------
# Columnar 3-gram shingles: the Arrow-native dedup/LSH feeder kernel
# --------------------------------------------------------------------------
#
# Same semantics as the per-row pandas shingle generator it replaces
# (text.lower().split(' '), empties dropped, distinct full 3-grams per
# doc; <3-token docs contribute nothing — the oracle's WHERE t1/t2/t3 IS
# NOT NULL), but the per-doc/per-token Python loop becomes pyarrow
# compute + numpy index arithmetic, the same shape as
# _tokenize_batch_columnar above. This stage feeds every jaccard/LSH/
# minhash/pipeline branch, so it is the analytics suite's hottest shared
# kernel (ADVICE r4: interpreter-bound Python would dominate at sf>=1).
#
# Lowercase note: pc.utf8_lower is NOT Python str.lower (utf8proc skips
# the Greek final-sigma context rule and the İ→i̇ expansion — verified),
# so only the DISTINCT tokens are lowered, in Python. Token-wise lower
# ≡ whole-text lower here because the split is on literal ' ' and no
# Unicode case mapping creates, removes, or crosses a space: every
# token boundary is a space (uncased) on one side and the token edge on
# the other in both formulations. Equivalence to the pandas generator is
# fuzz-pinned (incl. ΣΟΦΟΣ/İ cases) in tests/test_entry_extras.py.


def _shingle_batch_columnar(doc_ids: pa.Array, texts: pa.Array) -> pa.Table:
    """One Arrow batch (doc_ids, texts) → table (doc_id, shingle) of the
    DISTINCT lowercase 3-token shingles of each doc. Zero per-token
    Python: RE-free literal split, dictionary-encode, numpy trigram
    index arithmetic, C++ hash group-by for the per-doc dedup."""
    import pyarrow.compute as pc

    empty = pa.table(
        {"doc_id": pa.array([], type=doc_ids.type), "shingle": pa.array([], type=pa.string())}
    )
    if len(texts) == 0:
        return empty
    sp = pc.split_pattern(texts, pattern=" ")
    flat = pc.list_flatten(sp)  # null texts contribute nothing
    nonempty = pc.not_equal(flat, "")
    toks = pc.filter(flat, nonempty)
    if len(toks) == 0:
        return empty
    tok_row = (
        pc.filter(pc.list_parent_indices(sp), nonempty)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    # lowercase the DISTINCT raw tokens only (Zipf text repeats tokens
    # heavily; Python str.lower for exact parity with the row kernel)
    de = toks.dictionary_encode()
    lowered = pa.array([t.lower() for t in de.dictionary.to_pylist()], type=pa.string())
    tok_lower = lowered.take(de.indices)

    n_rows = len(texts)
    cnt = np.bincount(tok_row, minlength=n_rows)  # tokens per batch row
    g = np.maximum(cnt - 2, 0)  # full 3-grams per row
    G = int(g.sum())
    if G == 0:
        return empty
    starts = np.concatenate(([0], np.cumsum(cnt)))[:-1]
    g_off = np.concatenate(([0], np.cumsum(g)))
    # token index of gram j of row r = starts[r] + j, j ∈ [0, g[r])
    i0 = np.repeat(starts - g_off[:-1], g) + np.arange(G)
    idx0 = pa.array(i0, type=pa.int64())
    grams = pc.binary_join_element_wise(
        tok_lower.take(idx0),
        tok_lower.take(pa.array(i0 + 1, type=pa.int64())),
        tok_lower.take(pa.array(i0 + 2, type=pa.int64())),
        " ",
    )
    gram_doc = doc_ids.take(pa.array(np.repeat(np.arange(n_rows), g), type=pa.int64()))
    # per-doc distinct = group_by with no aggregates (C++ hash grouper);
    # doc_id is part of the key so this replays the row kernel's
    # per-doc set() exactly (row ORDER is unspecified on both sides —
    # every consumer treats the result as a set)
    return pa.table({"doc_id": gram_doc, "shingle": grams}).group_by(
        ["doc_id", "shingle"]
    ).aggregate([])


def shingled_docs_arrow(df):
    """``df`` (doc_id, text) → (doc_id, shingle) distinct-per-doc frame
    via ``mapInArrow`` with the columnar kernel. Narrow (partition-
    preserving): the dedup is per-doc, so no global Exchange is needed —
    doc_id is part of the distinct key and docs never span batches'
    grouping semantics (the group-by runs per batch; a doc's rows sit in
    one batch row, so its grams are all present)."""
    id_type = df.schema["doc_id"].dataType.simpleString()

    def run(batches):
        for b in batches:
            t = _shingle_batch_columnar(b.column("doc_id"), b.column("text"))
            yield pa.RecordBatch.from_arrays(
                [t.column("doc_id").combine_chunks(), t.column("shingle").combine_chunks()],
                ["doc_id", "shingle"],
            )

    return df.select("doc_id", "text").mapInArrow(
        run, f"doc_id {id_type}, shingle string"
    )

