"""spark-submit entry: build the inverted index over a pages table.

    python jobs/make_dist.py   # → dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/build_index.py \
        --pages /data/pages --out /data/index \
        --bucket-docs 131072 --chunk-docs 10000000 [--tiered] [--synth N]

On a cluster, size shuffle partitions via --conf spark.sql.shuffle.partitions
(~2-3x total cores). Run as plain python, the job uses a local[n] session
with n = SPARK_GRAFT_CPUS or the usable CPUs (searchengine_spark/session.py). The build is resumable: re-submitting after a failure
skips committed chunks (per-chunk manifests under <out>/_manifests).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain-python invocation (tests, probes) — spark-submit --py-files makes
# this a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages table location (url, warc_ts, html, text, lang)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--bucket-docs", type=int, default=1 << 17)
    ap.add_argument("--chunk-docs", type=int, default=None)
    ap.add_argument("--tiered", action="store_true", help="also build the 3-tier parity variant")
    ap.add_argument("--compact", action="store_true", help="merge chunked posting blocks after the build")
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic pages instead of --pages")
    ap.add_argument(
        "--id-base",
        type=int,
        default=0,
        help="first doc_id (shard-parallel builds: disjoint bucket-aligned "
        "ranges per shard; serve across shards via query_topk --index a,b)",
    )
    ap.add_argument(
        "--shards",
        type=int,
        default=0,
        help="build N url-range shards under --out/shard=k (sampled "
        "boundaries, auto bucket-aligned id bases) instead of one index",
    )
    args = ap.parse_args()

    from searchengine_spark.catalog import read_table
    from searchengine_spark.index.build import IndexBuilder
    from searchengine_spark.session import job_spark

    spark = job_spark("build-index")

    if args.synth:
        from searchengine_spark.corpus import generate_pages

        pages = generate_pages(spark, args.synth)
    else:
        if not args.pages:
            raise SystemExit("--pages or --synth required")
        pages = read_table(spark, args.pages)

    if args.shards > 1:
        from searchengine_spark.index.sharding import build_sharded

        res = build_sharded(
            spark,
            pages,
            args.out,
            n_shards=args.shards,
            bucket_docs=args.bucket_docs,
            chunk_docs=args.chunk_docs,
        )
        print(json.dumps(res, default=str))
        return

    stats = IndexBuilder(
        spark,
        args.out,
        bucket_docs=args.bucket_docs,
        chunk_docs=args.chunk_docs,
        id_base=args.id_base,
    ).build(pages)
    if args.tiered:
        from searchengine_spark.index.tiered import build_tiered, build_tiered_scored

        stats["tiered"] = build_tiered(spark, args.out, bucket_docs=args.bucket_docs)
        stats["tiered_scored"] = build_tiered_scored(
            spark, args.out, bucket_docs=args.bucket_docs
        )
    if args.compact:
        from searchengine_spark.index.compact import compact_index

        stats["compaction"] = compact_index(spark, args.out)
    print(json.dumps(stats, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
