"""Scale-sample: run the full driver query battery at 1× and F× the
given sf dir and report per-query scaling exponents (VERDICT r3 #5 —
verifies the shingle family / connected components / IVF join stay
sub-quadratic off the small-sf sweet spot).

    python jobs/scale_sample.py [--sf-dir /root/testdata/sf0.1]
        [--factor 10] [--reps 1]

Staging replicates each table F× with DECORRELATED copies, so workload
size scales linearly without manufacturing artificial near-duplicates
(which would make dedup queries look super-linear for data reasons, not
algorithmic ones):
  - documents: ids shifted by k·N; every token suffixed with the copy id
    (shingles/terms never collide across copies — vocabulary grows with
    the corpus, the real web shape). Copy 0 is suffixed too, so the 1×
    and F× corpora go through the identical transformation and the
    exponent compares like with like.
  - embeddings: ids shifted; vectors ROTATED by k·7 dimensions (the
    near-random test vectors stay near-random against other copies
    instead of cloning cosine-1.0 pairs).
  - events: event/user ids shifted by k·N — each copy is a disjoint
    user population with the same temporal structure.

Prints one JSON line per factor ({"factor", "n_docs", "queries"}) and a
final {"exponents": {query: log(tF/t1)/log(F)}} line. Exponent ~1 ⇒
linear scaling; ≳1.5 flags a quadratic term.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None


def stage(spark, sf_dir: str, factor: int, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    n_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    n_ev = ev.agg(F.max("event_id")).first()[0] + 1
    n_user = ev.agg(F.max("user_id")).first()[0] + 1
    dim = len(emb.select("embedding").first()[0])

    d_parts, e_parts, v_parts = [], [], []
    for k in range(factor):
        suf = f"c{k}"
        text2 = F.array_join(
            F.transform(
                F.split("text", " "),
                lambda x: F.when(x == "", x).otherwise(
                    F.concat(x, F.lit(suf))
                ),
            ),
            " ",
        )
        d_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * n_docs)).alias("doc_id"),
                text2.alias("text"),
                "lang",
                "source",
                F.length(text2).alias("n_chars"),
            )
        )
        rot = (k * 7) % dim
        rotated = (
            F.concat(
                F.slice("embedding", rot + 1, dim - rot),
                F.slice("embedding", 1, rot),
            )
            if rot
            else F.col("embedding")
        )
        e_parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * n_vec)).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        )
        v_parts.append(
            ev.select(
                (F.col("event_id") + F.lit(k * n_ev)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(k * n_user)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )

    def union_all(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    union_all(d_parts).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    union_all(e_parts).repartition(8).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    union_all(v_parts).repartition(16).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )
    return {"n_docs": n_docs * factor, "n_vec": n_vec * factor}


def main() -> None:
    from searchengine_spark.session import default_cpus, get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=default_cpus())
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query-name substrings; run only matching queries",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    spark = get_spark(
        "scale-sample", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    walls: dict[int, dict[str, float]] = {}
    try:
        for factor in (1, args.factor):
            staged = tempfile.mkdtemp(prefix=f"scale_sample_{factor}_", dir=_SCRATCH)
            try:
                meta = stage(spark, args.sf_dir, factor, staged)
                only = (
                    [s for s in args.only.split(",") if s] if args.only else None
                )
                per_q: dict[str, float] = {}
                for name, fn in entry_mod.queries().items():
                    if only is not None and not any(s in name for s in only):
                        continue
                    secs = []
                    for _ in range(args.reps):
                        t0 = time.time()
                        fn(spark, staged).count()
                        secs.append(time.time() - t0)
                    secs.sort()
                    per_q[name] = round(secs[len(secs) // 2], 3)
                walls[factor] = per_q
                print(
                    json.dumps(
                        {"factor": factor, **meta, "queries": per_q}
                    ),
                    flush=True,
                )
            finally:
                shutil.rmtree(staged, ignore_errors=True)
    finally:
        spark.stop()

    t1, tf = walls[1], walls[args.factor]
    exps = {
        q: round(math.log(max(tf[q], 1e-3) / max(t1[q], 1e-3)) / math.log(args.factor), 2)
        for q in t1
    }
    print(json.dumps({"factor": args.factor, "exponents": exps}), flush=True)


if __name__ == "__main__":
    main()
