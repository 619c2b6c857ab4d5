"""One timed index build at a given parallelism, in its OWN JVM/process —
the unit of bench.py's paired N→4N scaling experiment (every pair lands in
the "scaling" block of its last stdout line and BENCH/detail_latest.json).

Run from any directory:

    python jobs/scaling_probe.py --cpus 2 --pages-dir /dev/shm/pages \
        --n-docs 100000 [--warmup-dir /dev/shm/warm_pages]

Prints ONE JSON line: {"cpus", "n_docs", "build_sec", "docs_per_sec",
"phase_secs"}.
A fresh process per probe keeps the JVM, python workers, and GC state of
one parallelism level from bleeding into the other (the sandbox stand-in
for separate clusters); the optional warmup build absorbs first-job
JVM/worker startup so the timed region measures the pipeline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--pages-dir", required=True)
    ap.add_argument("--n-docs", type=int, required=True)
    ap.add_argument("--bucket-docs", type=int, default=1 << 14)
    ap.add_argument("--warmup-dir", default=None)
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)

    from searchengine_spark.index.build import IndexBuilder
    from searchengine_spark.session import get_spark

    spark = get_spark(
        f"scaling-{args.cpus}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    # one file per read partition: the staging is url-sorted, so this
    # keeps partition key-ranges disjoint and the id assignment (hence
    # the whole build) shuffle-free — the at-scale file shape, where
    # files exceed the split size anyway
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 27))
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    try:
        if args.warmup_dir:
            wd = tempfile.mkdtemp(prefix="scale_warm_idx_", dir=scratch)
            IndexBuilder(spark, wd, bucket_docs=args.bucket_docs).build(
                spark.read.parquet(args.warmup_dir)
            )
            shutil.rmtree(wd, ignore_errors=True)
        pages = spark.read.parquet(args.pages_dir)
        out = tempfile.mkdtemp(prefix="scale_idx_", dir=scratch)
        try:
            t0 = time.time()
            stats = IndexBuilder(spark, out, bucket_docs=args.bucket_docs).build(
                pages
            )
            el = time.time() - t0
        finally:
            shutil.rmtree(out, ignore_errors=True)
        print(
            json.dumps(
                {
                    "cpus": args.cpus,
                    "n_docs": args.n_docs,
                    "build_sec": round(el, 3),
                    "docs_per_sec": round(args.n_docs / el, 1),
                    # per-phase seconds: lets the experiment report WHERE a
                    # side loses time (scalable docs/postings phases vs the
                    # fixed id-stats/lexicon tail) instead of one opaque
                    # ratio — slow-host-phase runs are then self-diagnosing
                    "phase_secs": stats.get("phase_secs", {}),
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
