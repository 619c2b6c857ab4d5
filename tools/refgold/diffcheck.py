#!/usr/bin/env python
"""Differential verification against the UNMODIFIED Java reference engine.

Generates FRESH seeded fuzz corpora (never the checked-in fixtures), runs
the real Java engine via tools/refgold/GoldGen.java, and asserts:

  index   — positional index identical term-for-term / position-for-position,
            docWeights (Ld) bit-identical float64 (HashMap-order summation
            replayed by searchengine_spark.text.javahash)
  bool    — M2 BooleanQueryParser result doc sets identical per query
            (compared as file names; Java NPE crashes recorded and mapped
            to our defined no-match)
  ranked  — M2 RankedQueryParser accumulator scores bit-identical float64
            per (query, doc)
  tranked — M3 TieredRankedQueryParser (ACTIVE config): bit-identical under
            tier fall-through, incl. PriorityQueue tie tier membership
  sranked — M3 WithScore variant: bit-identical precomputed-score
            retrieval, incl. HashMap<Integer>-order tie tier membership

Tie-breaking depends on the docID permutation, and the reference's docIDs
follow filesystem readdir order (which flips when ext4 converts the docs
directory to htree) — every GoldGen output therefore carries its own
`files` walk order, and each check builds its oracle in that exact order.

Usage:  python tools/refgold/diffcheck.py [--seeds 101 102] [--docs 80]
Exit 0 = zero diffs.  Unicode fuzz only exercises the in-memory `index`
mode: the reference's on-disk vocab is ASCII-only by construction
(IndexWriter.java:140,148), so bool/ranked corpora are ASCII.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import string
import struct
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

REF = "/root/reference/SimpleSearchEngine"
BIN = "/tmp/refbin"
CP = f"{BIN}:{REF}/lib/json-simple-1.1.1.jar:{REF}/lib/lucene-snowball-3.0.3.jar"

_PUNCT = "!?.,;:()[]{}'\"_@#$%&*-"
_UNI = "éüñ中日ΩЖ —’"
_WORDS = (
    "running runs ran caresses ponies ties cats conflated troubled sized "
    "hopping tanned falling hissing fizzed failing filing crying saying "
    "state of the art vanilla shake ice cream don stop spark merge window "
    "generalization oscillation national rational relational conditional "
    "valency hesitancy formality sensibility b2b 42 abc123 x".split()
)


def compile_ref() -> None:
    if os.path.exists(f"{BIN}/GoldGen.class"):
        return
    if not os.path.isdir(f"{REF}/src"):
        sys.exit(
            f"diffcheck: the reference checkout is absent ({REF}/src not "
            "found); it is needed to compile the reference engine"
        )
    os.makedirs(BIN, exist_ok=True)
    srcs = subprocess.run(
        ["find", f"{REF}/src", "-name", "*.java"], capture_output=True, text=True
    ).stdout.split()
    subprocess.run(
        ["javac", "-nowarn", "-cp", f"{REF}/lib/json-simple-1.1.1.jar:{REF}/lib/lucene-snowball-3.0.3.jar",
         "-d", BIN, *srcs],
        check=True,
    )
    subprocess.run(
        ["javac", "-encoding", "UTF-8", "-cp", CP, "-d", BIN,
         os.path.join(os.path.dirname(__file__), "GoldGen.java")],
        check=True,
    )


def goldgen(*args: str) -> None:
    subprocess.run(["java", "-cp", f"{BIN}:{CP}", "GoldGen", *args], check=True)


def fuzz_token(rng: random.Random, ascii_only: bool) -> str:
    kind = rng.random()
    if kind < 0.55:
        w = rng.choice(_WORDS)
        if rng.random() < 0.3:
            w = w.capitalize() if rng.random() < 0.5 else w.upper()
        return w
    n = rng.randint(1, 10)
    pool = string.ascii_letters + string.digits * 2 + _PUNCT
    if not ascii_only:
        pool += _UNI
    return "".join(rng.choice(pool) for _ in range(n))


def gen_corpus(dirpath: str, n_docs: int, seed: int, ascii_only: bool) -> dict[str, str]:
    rng = random.Random(seed)
    os.makedirs(dirpath, exist_ok=True)
    docs: dict[str, str] = {}
    for i in range(n_docs):
        toks = []
        for _ in range(rng.randint(3, 60)):
            t = fuzz_token(rng, ascii_only)
            if rng.random() < 0.15:  # hyphen compounds hit T5 / Q5
                t = t + "-" + fuzz_token(rng, ascii_only)
            toks.append(t)
        sep = lambda: rng.choice([" ", " ", " ", "\t", "\n", "  "])
        text = toks[0] + "".join(sep() + t for t in toks[1:])
        name = f"{i + 1:05d}.json"
        with open(os.path.join(dirpath, name), "w") as f:
            json.dump({"body": text}, f, ensure_ascii=False)
        docs[name] = text
    return docs


def gen_bool_queries(rng: random.Random, docs: dict[str, str], n: int) -> list[str]:
    toks = sorted({t for text in docs.values() for t in text.split()})
    out = []
    for _ in range(n):
        kind = rng.random()
        words = lambda k: " ".join(rng.choice(toks) for _ in range(k))
        if kind < 0.25:
            q = words(rng.randint(1, 3))
        elif kind < 0.45:
            q = words(rng.randint(1, 2)) + " + " + words(rng.randint(1, 2))
        elif kind < 0.6:
            q = words(1) + " -" + rng.choice(toks)
        elif kind < 0.8:
            # phrase from an actual document bigram (likely a hit)
            text = rng.choice(list(docs.values())).split()
            if len(text) >= 2:
                i = rng.randrange(len(text) - 1)
                q = f'"{text[i]} {text[i + 1]}"'
                if rng.random() < 0.4:
                    q += " " + words(1)
            else:
                q = words(1)
        else:
            q = words(1) + " zzqxmissing" + (" -zzqxneg" if rng.random() < 0.5 else "")
        out.append(q.replace("\t", " ").replace("\n", " "))
    return out


def gen_ranked_queries(rng: random.Random, docs: dict[str, str], n: int) -> list[str]:
    toks = sorted({t for text in docs.values() for t in text.split()})
    out = []
    for _ in range(n):
        k = rng.randint(1, 4)
        q = " ".join(rng.choice(toks) for _ in range(k))
        if rng.random() < 0.2:
            q += " zzqxmissing"
        out.append(q.replace("\t", " ").replace("\n", " "))
    return out


def bits(x: float) -> str:
    return str(struct.unpack("<Q", struct.pack("<d", x))[0])


def check_index(work: str, docs: dict[str, str]) -> int:
    from searchengine_spark.text.tokenizer import build_positional_index

    goldgen("index", os.path.join(work, "docs"), os.path.join(work, "index.json"))
    gold = json.load(open(os.path.join(work, "index.json")))
    ordered = [(i, docs[name]) for i, name in enumerate(gold["files"])]
    index, weights = build_positional_index(ordered)
    diffs = 0
    gidx = {t: [(d, ps) for d, ps in pl] for t, pl in gold["index"].items()}
    if set(gidx) != set(index):
        print(f"  INDEX term-set diff: only_gold={set(gidx) - set(index)} "
              f"only_ours={set(index) - set(gidx)}")
        diffs += 1
    for t in sorted(set(gidx) & set(index)):
        ours = [(d, list(ps)) for d, ps in index[t]]
        theirs = [(d, list(ps)) for d, ps in gidx[t]]
        if ours != theirs:
            print(f"  INDEX postings diff for {t!r}: ours={ours} gold={theirs}")
            diffs += 1
    for i, wb in enumerate(gold["doc_weight_bits"]):
        ob = bits(weights[i])
        if ob != wb:
            print(f"  Ld bits diff doc {i}: ours={ob} gold={wb}")
            diffs += 1
    return diffs


def _oidx_in_walk_order(docs, gold):
    """Oracle index with doc_ids in the JAVA run's exact walk order —
    heap/HashMap tie-breaking depends on the docID permutation, and ext4
    readdir order changes when a directory converts to htree, so every
    GoldGen output carries its own `files` list."""
    import pandas as pd

    from searchengine_spark.oracle.refmodel import build_oracle_index

    return build_oracle_index(
        pd.DataFrame({"url": list(docs), "text": [docs[k] for k in docs]}),
        order=gold["files"],
    )


def check_bool(work: str, docs, queries: list[str]) -> int:
    from searchengine_spark.oracle.boolmodel import boolean_query_oracle

    qf = os.path.join(work, "bool_queries.txt")
    open(qf, "w").write("\n".join(queries) + "\n")
    goldgen("bool", os.path.join(work, "docs"), qf, os.path.join(work, "bool.json"))
    gold = json.load(open(os.path.join(work, "bool.json")))
    oidx = _oidx_in_walk_order(docs, gold)
    diffs = 0
    for i, q in enumerate(queries):
        g = gold[f"q{i}"]
        got = sorted(oidx.urls[d] for d in boolean_query_oracle(oidx, q))
        if g == "crash":
            # reference NPE (all positives dropped by optimizeQuery);
            # our defined behavior is no-match — see query/boolean.py
            if got != []:
                print(f"  BOOL diff on {q!r}: java crashed, ours={got}")
                diffs += 1
            continue
        want = sorted(g) if g is not None else []
        if got != want:
            print(f"  BOOL diff on {q!r}: ours={got} gold={want}")
            diffs += 1
    return diffs


def check_tranked(work: str, docs, queries: list[str]) -> int:
    """Tiered (ACTIVE-config) ranked retrieval: bit-identical scores under
    tier fall-through, including heap-order tie tier membership."""
    from searchengine_spark.oracle.refmodel import tiered_ranked_topk_oracle

    qf = os.path.join(work, "tranked_queries.txt")
    open(qf, "w").write("\n".join(queries) + "\n")
    goldgen("tranked", os.path.join(work, "docs"), qf, os.path.join(work, "tranked.json"))
    gold = json.load(open(os.path.join(work, "tranked.json")))
    oidx = _oidx_in_walk_order(docs, gold)
    diffs = 0
    for i, q in enumerate(queries):
        want = gold[f"q{i}"]
        got = {
            oidx.urls[d]: bits(s)
            for d, s in tiered_ranked_topk_oracle(oidx, q, k=1 << 30)
        }
        if got != want:
            only_g = {k: v for k, v in got.items() if want.get(k) != v}
            only_w = {k: v for k, v in want.items() if got.get(k) != v}
            print(f"  TRANKED diff on {q!r}: ours={only_g} gold={only_w}")
            diffs += 1
    return diffs


def check_sranked(work: str, docs, queries: list[str]) -> int:
    """WithScore variant: bit-identical precomputed-score retrieval,
    incl. HashMap<Integer>-order tie tier membership."""
    from searchengine_spark.oracle.refmodel import scored_ranked_topk_oracle

    qf = os.path.join(work, "sranked_queries.txt")
    open(qf, "w").write("\n".join(queries) + "\n")
    goldgen("sranked", os.path.join(work, "docs"), qf, os.path.join(work, "sranked.json"))
    gold = json.load(open(os.path.join(work, "sranked.json")))
    oidx = _oidx_in_walk_order(docs, gold)
    diffs = 0
    for i, q in enumerate(queries):
        want = gold[f"q{i}"]
        got = {
            oidx.urls[d]: bits(s)
            for d, s in scored_ranked_topk_oracle(oidx, q, k=1 << 30)
        }
        if got != want:
            only_g = {k: v for k, v in got.items() if want.get(k) != v}
            only_w = {k: v for k, v in want.items() if got.get(k) != v}
            print(f"  SRANKED diff on {q!r}: ours={only_g} gold={only_w}")
            diffs += 1
    return diffs


def check_ranked(work: str, docs, queries: list[str]) -> int:
    from searchengine_spark.oracle.refmodel import ranked_topk_oracle

    qf = os.path.join(work, "ranked_queries.txt")
    open(qf, "w").write("\n".join(queries) + "\n")
    goldgen("ranked", os.path.join(work, "docs"), qf, os.path.join(work, "ranked.json"))
    gold = json.load(open(os.path.join(work, "ranked.json")))
    oidx = _oidx_in_walk_order(docs, gold)
    diffs = 0
    for i, q in enumerate(queries):
        want = gold[f"q{i}"]
        got = {
            oidx.urls[d]: bits(s)
            for d, s in ranked_topk_oracle(oidx, q, k=1 << 30, scorer="tfidf_ref")
        }
        if got != want:
            only_g = {k: v for k, v in got.items() if want.get(k) != v}
            only_w = {k: v for k, v in want.items() if got.get(k) != v}
            print(f"  RANKED diff on {q!r}: ours={only_g} gold={only_w}")
            diffs += 1
    return diffs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[101, 202, 303])
    ap.add_argument("--docs", type=int, default=80)
    ap.add_argument("--queries", type=int, default=40)
    args = ap.parse_args()

    import pandas as pd

    from searchengine_spark.oracle.refmodel import build_oracle_index

    compile_ref()
    total = 0
    for seed in args.seeds:
        for ascii_only in (True, False):
            work = tempfile.mkdtemp(prefix=f"diffcheck_{seed}_")
            try:
                docs = gen_corpus(
                    os.path.join(work, "docs"), args.docs, seed + ascii_only, ascii_only
                )
                d = check_index(work, docs)
                if ascii_only:
                    rng = random.Random(seed * 7 + 1)
                    d += check_bool(work, docs, gen_bool_queries(rng, docs, args.queries))
                    rq = gen_ranked_queries(rng, docs, args.queries)
                    d += check_ranked(work, docs, rq)
                    d += check_tranked(work, docs, rq)
                    d += check_sranked(work, docs, rq)
                label = "ascii" if ascii_only else "unicode"
                print(f"seed {seed} [{label}]: {'OK' if d == 0 else f'{d} DIFFS'}")
                total += d
            finally:
                shutil.rmtree(work, ignore_errors=True)
    print(f"diffcheck: {'PASS' if total == 0 else f'FAIL ({total} diffs)'}")
    return 0 if total == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
