"""spark-submit entry: query a built index.

    spark-submit --py-files dist/engine.zip jobs/query_topk.py \
        --index /data/index --query "fast data" \
        [--k 20] [--scorer bm25|tfidf_ref] \
        [--mode serve|full|tiered|scored|boolean]

``serve`` (the default) answers with the Spark-free serving tier's exact
block-max WAND (query/serve.py; comma-separated shard dirs fan out via
query/sharded.py); ``full`` is Spark full evaluation (query/exec.py).
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
    ap.add_argument(
        "--index",
        required=True,
        help="index dir; comma-separated shard dirs fan out via the "
        "sharded serving root (serve mode only)",
    )
    ap.add_argument("--query", required=True)
    ap.add_argument("--k", type=int, default=20)
    ap.add_argument("--scorer", default="bm25", choices=["bm25", "tfidf_ref"])
    ap.add_argument(
        "--mode",
        default="serve",
        choices=["serve", "full", "tiered", "scored", "boolean"],
    )
    args = ap.parse_args()

    if args.mode == "serve":  # Spark-free serving tier — no session at all
        paths = args.index.split(",")
        if len(paths) > 1:
            from searchengine_spark.query.sharded import ShardedIndexReader

            reader = ShardedIndexReader(paths)
        else:
            from searchengine_spark.query.serve import LocalIndexReader

            reader = LocalIndexReader(paths[0])
        rows = reader.ranked_topk(args.query, k=args.k, scorer=args.scorer)
        print(json.dumps({"results": rows}))
        return

    from searchengine_spark.session import job_spark

    spark = job_spark("query-topk")

    if args.mode == "boolean":
        from searchengine_spark.query.boolean import boolean_query
        from searchengine_spark.query.exec import IndexHandle

        rows = boolean_query(IndexHandle(spark, args.index), args.query).collect()
        print(json.dumps([{"doc_id": r["doc_id"], "url": r["url"]} for r in rows]))
    elif args.mode in ("tiered", "scored"):
        from searchengine_spark.query.tiered import (
            TieredIndexHandle,
            scored_ranked_topk,
            tiered_ranked_topk,
        )

        h = TieredIndexHandle(spark, args.index)
        fn = tiered_ranked_topk if args.mode == "tiered" else scored_ranked_topk
        rows = fn(h, args.query, k=args.k).collect()
        print(json.dumps([dict(doc_id=r["doc_id"], url=r["url"], score=r["score"]) for r in rows]))
    else:
        from searchengine_spark.query.exec import IndexHandle, ranked_topk

        idx = IndexHandle(spark, args.index)
        rows = ranked_topk(idx, args.query, k=args.k, scorer=args.scorer).collect()
        print(json.dumps({
            "results": [dict(doc_id=r["doc_id"], url=r["url"], score=r["score"]) for r in rows],
        }))
    spark.stop()


if __name__ == "__main__":
    main()
