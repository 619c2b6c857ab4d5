"""Training-data extensions: MAP evaluation harness, streaming incremental
build ≡ batch build, multimodal binary-column plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from searchengine_spark.evaluation import average_precision, qrels_from_mode, topk_map
from searchengine_spark.query.exec import IndexHandle, ranked_topk


# ---------------------------------------------------------------- MAP ----

def test_average_precision_reference_semantics():
    # relevant docs 1,3,5; top-5 = [1,2,3,4,9] → hits at ranks 1,3
    # AP = (1/1 + 2/3) / 3
    ap = average_precision([1, 2, 3, 4, 9], {1, 3, 5})
    assert abs(ap - (1.0 + 2.0 / 3.0) / 3.0) < 1e-12
    assert average_precision([7, 8], {1}) == 0.0
    assert average_precision([1], set()) == 0.0


def test_map_self_consistency(spark, built_index):
    """Qrels synthesized from full tf-idf ⇒ full tf-idf scores MAP 1.0;
    the lossy tiered path can only do worse or equal."""
    idx = IndexHandle(spark, built_index)
    queries = [(1, "fast data"), (2, "spark stream window"), (3, "the")]
    qrels = qrels_from_mode(idx, queries, k=10, scorer="tfidf_ref")
    full = topk_map(idx, queries, qrels, k=10, scorer="tfidf_ref")
    assert abs(full["map"] - 1.0) < 1e-12, full
    bm = topk_map(idx, queries, qrels, k=10, scorer="bm25")
    assert 0.0 < bm["map"] <= 1.0


def test_variant_matrix(spark, built_index):
    """All engine variants evaluated against full-tf-idf qrels: full tfidf
    and its rank-identical replicas score MAP 1.0; lossy variants ≤ 1."""
    from searchengine_spark.evaluation import variant_matrix
    from searchengine_spark.index.tiered import build_tiered, build_tiered_scored

    build_tiered(spark, built_index, bucket_docs=64)
    build_tiered_scored(spark, built_index, bucket_docs=64)
    queries = [(1, "fast data"), (2, "spark stream window"), (3, "the a")]
    m = variant_matrix(spark, built_index, queries, k=10)
    assert abs(m["full_tfidf"]["map"] - 1.0) < 1e-12
    assert abs(m["serve_tfidf"]["map"] - 1.0) < 1e-12  # serving ≡ Spark path
    # the serving tier's block-max pruning is exact: same bm25 top-k as
    # Spark full evaluation
    assert abs(m["serve_bm25"]["map"] - m["full_bm25"]["map"]) < 1e-12
    for name in ("full_bm25", "tiered_tfidf", "scored_tfidf"):
        assert 0.0 < m[name]["map"] <= 1.0, (name, m[name])


def test_map_against_labeled_qrels(spark, tmp_path):
    """MAP against the checked-in engine-independent judgments
    (tests/fixtures/qrels_mini.json) — retrieval quality proper, not
    scorer-vs-scorer agreement. Floors are loose; the fixture is
    deterministic and measures BM25 0.774, tf-idf 0.644."""
    from searchengine_spark.corpus import generate_pages
    from searchengine_spark.evaluation import load_mini_qrels, topk_map
    from searchengine_spark.index.build import IndexBuilder

    queries, qrels, corpus = load_mini_qrels()
    out = str(tmp_path / "qrel_idx")
    pages = generate_pages(
        spark, corpus["n_docs"], parallelism=8, clustered=corpus["clustered"]
    )
    IndexBuilder(spark, out, bucket_docs=128).build(pages)
    idx = IndexHandle(spark, out)
    bm = topk_map(idx, queries, qrels, k=20, scorer="bm25")
    tf = topk_map(idx, queries, qrels, k=20, scorer="tfidf_ref")
    assert bm["map"] > 0.35, bm["map"]
    assert tf["map"] > 0.35, tf["map"]


# ---------------------------------------------------------- streaming ----

def test_streaming_build_equals_batch(spark, small_corpus_pdf, built_index, tmp_path):
    from searchengine_spark.streaming.incremental import StreamingIndexBuilder

    pages_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "stream_index")
    spark.createDataFrame(small_corpus_pdf).repartition(4).write.parquet(pages_dir)

    b = StreamingIndexBuilder(spark, out_dir, bucket_docs=64)
    b.run_available(pages_dir, max_files_per_trigger=2)  # ≥2 micro-batches
    meta = b.finalize()
    assert meta["n_docs"] == len(small_corpus_pdf)

    import json
    import os

    manifests = [
        f
        for f in os.listdir(os.path.join(out_dir, "_manifests"))
        if f.startswith("stream_batch_")
    ]
    assert len(manifests) >= 2, "expected multiple micro-batches"

    sidx = IndexHandle(spark, out_dir)
    bidx = IndexHandle(spark, built_index)
    for q in ["fast data", "spark stream window", "the", "state-of"]:
        s = {
            r["url"]: round(r["score"], 9)
            for r in ranked_topk(sidx, q, k=10, scorer="bm25").collect()
        }
        bt = {
            r["url"]: round(r["score"], 9)
            for r in ranked_topk(bidx, q, k=10, scorer="bm25").collect()
        }
        assert s == bt, q


def test_streaming_replay_is_idempotent(spark, small_corpus_pdf, tmp_path):
    """Crash window: docs written, manifest NOT committed → foreachBatch
    replays the batch. Both sinks are per-batch overwrite, so the replay
    must leave row counts and doc_id ranges unchanged (no duplicate doc
    rows — the round-1 append-mode bug)."""
    import json
    import os

    from searchengine_spark.streaming.incremental import StreamingIndexBuilder

    pages_dir = str(tmp_path / "pages_r")
    out_dir = str(tmp_path / "ridx")
    spark.createDataFrame(small_corpus_pdf).repartition(4).write.parquet(pages_dir)
    b = StreamingIndexBuilder(spark, out_dir, bucket_docs=64)
    b.run_available(pages_dir, max_files_per_trigger=2)
    b.finalize()

    docs_path = os.path.join(out_dir, "docs")
    before = spark.read.parquet(docs_path)
    n_before = before.count()
    ids_before = sorted(r["doc_id"] for r in before.select("doc_id").collect())

    mdir = os.path.join(out_dir, "_manifests")
    last = max(
        f for f in os.listdir(mdir) if f.startswith("stream_batch_")
    )
    batch_id = json.load(open(os.path.join(mdir, last)))["batch_id"]
    batch_urls = [
        r["url"]
        for r in spark.read.parquet(
            os.path.join(docs_path, f"batch={batch_id}")
        ).select("url").collect()
    ]
    # simulate the crash: manifest lost, data present → replay
    os.remove(os.path.join(mdir, last))
    replay_df = spark.createDataFrame(small_corpus_pdf).where(
        F.col("url").isin(batch_urls)
    )
    b._process_batch(replay_df, batch_id)

    after = spark.read.parquet(docs_path)
    assert after.count() == n_before
    assert sorted(r["doc_id"] for r in after.select("doc_id").collect()) == ids_before
    assert os.path.exists(os.path.join(mdir, last))


def test_compaction_preserves_results(spark, small_corpus_pdf, tmp_path):
    """Streaming build (multi-chunk, fragmented blocks) → compaction must
    shrink block count while serving identical ranked + boolean results."""
    from searchengine_spark.index.compact import compact_index
    from searchengine_spark.query.boolean import boolean_query
    from searchengine_spark.streaming.incremental import StreamingIndexBuilder

    pages_dir = str(tmp_path / "pages_c")
    out_dir = str(tmp_path / "cindex")
    spark.createDataFrame(small_corpus_pdf).repartition(6).write.parquet(pages_dir)
    b = StreamingIndexBuilder(spark, out_dir, bucket_docs=64)
    b.run_available(pages_dir, max_files_per_trigger=2)  # ≥3 chunks
    b.finalize()

    idx0 = IndexHandle(spark, out_dir)
    before = {
        q: [
            (r["doc_id"], round(r["score"], 9))
            for r in ranked_topk(idx0, q, k=10, scorer="bm25").collect()
        ]
        for q in ["fast data", "the", "spark stream window"]
    }
    bool_before = [
        r["doc_id"] for r in boolean_query(idx0, '"state of" -slow', with_urls=False).collect()
    ]

    stats = compact_index(spark, out_dir)
    assert stats["blocks_after"] < stats["blocks_before"], stats

    idx1 = IndexHandle(spark, out_dir)
    for q, want in before.items():
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in ranked_topk(idx1, q, k=10, scorer="bm25").collect()
        ]
        assert got == want, q
    bool_after = [
        r["doc_id"] for r in boolean_query(idx1, '"state of" -slow', with_urls=False).collect()
    ]
    assert bool_after == bool_before


def test_compaction_half_swap_recovery(tmp_path):
    """A crash between the two swap renames must be repaired at open:
    roll FORWARD when the verified compacted dir survives, roll BACK when
    only the old dir does, drop stale leftovers when postings is live."""
    import os
    import shutil

    from searchengine_spark.index.compact import recover_compaction

    def mk(idx, *dirs):
        d = tmp_path / idx
        d.mkdir()
        for name in dirs:
            (d / name).mkdir()
            (d / name / "part-0.parquet").write_bytes(b"x")
        return str(d)

    # crash between rename(postings→old) and rename(compacted→postings)
    d = mk("fwd", "postings_old", "postings_compacted")
    assert recover_compaction(d) == "rolled_forward"
    assert os.path.exists(os.path.join(d, "postings", "part-0.parquet"))
    assert not os.path.exists(os.path.join(d, "postings_old"))

    # compacted dir lost too (shouldn't happen, but must not strand)
    d = mk("back", "postings_old")
    assert recover_compaction(d) == "rolled_back"
    assert os.path.exists(os.path.join(d, "postings", "part-0.parquet"))

    # live postings + stale leftovers → leftovers dropped
    d = mk("stale", "postings", "postings_old", "postings_compacted")
    assert recover_compaction(d) is not None
    assert os.path.exists(os.path.join(d, "postings", "part-0.parquet"))
    assert not os.path.exists(os.path.join(d, "postings_old"))
    assert not os.path.exists(os.path.join(d, "postings_compacted"))

    # clean index → no-op
    d = mk("clean", "postings")
    assert recover_compaction(d) is None
    shutil.rmtree(d)


def test_compaction_sentinel_mutual_exclusion(tmp_path):
    """While a LIVE compactor holds the sentinel, an index open must not
    delete its in-progress postings_compacted dir (layout intact) and
    must refuse to roll a mid-swap state forward; a DEAD compactor's
    sentinel is cleared and repair proceeds (ADVICE r2 #3)."""
    import json
    import os

    import pytest

    from searchengine_spark.index.compact import recover_compaction

    def mk(idx, *dirs, pid=None):
        d = tmp_path / idx
        d.mkdir()
        for name in dirs:
            (d / name).mkdir()
            (d / name / "part-0.parquet").write_bytes(b"x")
        if pid is not None:
            (d / "_compaction_in_progress").write_text(json.dumps({"pid": pid}))
        return str(d)

    # live writer (this process), postings intact: reader must not touch
    # the writer's in-progress compacted dir
    d = mk("live", "postings", "postings_compacted", pid=os.getpid())
    assert recover_compaction(d) is None
    assert os.path.exists(os.path.join(d, "postings_compacted"))

    # live writer mid-swap (postings missing): refuse to race the renames
    d = mk("midswap", "postings_old", "postings_compacted", pid=os.getpid())
    with pytest.raises(RuntimeError, match="in progress"):
        recover_compaction(d)
    assert os.path.exists(os.path.join(d, "postings_compacted"))

    # dead writer: sentinel cleared, normal repair (roll forward)
    import subprocess

    dead = subprocess.Popen(["true"])
    dead.wait()
    d = mk("dead", "postings_old", "postings_compacted", pid=dead.pid)
    assert recover_compaction(d) == "rolled_forward"
    assert not os.path.exists(os.path.join(d, "_compaction_in_progress"))
    assert os.path.exists(os.path.join(d, "postings", "part-0.parquet"))


def test_streaming_windowed_agg_equals_batch(spark, tmp_path):
    """Watermarked streaming window over a drained directory must equal
    the batch events_windowed aggregation on the same data."""
    import __spark_entry__ as entry_mod

    from searchengine_spark.streaming.windows import windowed_counts_stream

    sf = "/root/testdata/sf0.001"
    events_dir = str(tmp_path / "events_stream")
    spark.read.parquet(f"{sf}/events.parquet").repartition(3).write.parquet(events_dir)

    got = windowed_counts_stream(
        spark, events_dir, str(tmp_path / "ckpt"), sink_table="wc_test"
    )
    want = entry_mod.queries()["events_windowed"](spark, sf)
    g = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    w = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in want.collect()
    }
    assert g == w


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics pinned (VERDICT r2 #8): with append mode and
    one file per micro-batch, a row arriving AFTER the watermark passed
    its window must be dropped — the streaming count for that window
    excludes it (batch over the same files would include it) — while an
    on-time row in the same late batch is counted; windows newer than
    the final watermark are withheld, not emitted."""
    import os
    import time as _time

    from searchengine_spark.streaming.windows import windowed_counts_stream

    events_dir = tmp_path / "late_events"
    events_dir.mkdir()

    def _write(name: str, rows, mtime: float):
        """One parquet FILE (not dir) at the stream root — the file source
        does not recurse into nested write dirs — with a pinned mtime so
        micro-batch order is deterministic."""
        df = spark.createDataFrame(
            [
                (i, f"2024-01-01 {h:02d}:30:00", 1, "a", 1.0, "{}")
                for i, h in enumerate(rows)
            ],
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        scratch = tmp_path / f"scratch_{name}"
        df.coalesce(1).write.parquet(str(scratch))
        part = next(scratch.glob("part-*.parquet"))
        dest = events_dir / f"{name}.parquet"
        part.rename(dest)
        os.utime(dest, (mtime, mtime))

    now = _time.time()
    # batch 0: one event per hour 0..11 → watermark after it = 11:30-2h = 9:30
    _write("f1", list(range(12)), now - 60)
    # batch 1: watermark 9:30 in effect → windows through [8,9) emit and
    # their state evicts; hour-12 event advances the watermark to 10:30
    _write("f2", [12], now - 30)
    # batch 2: the hour-3 event is LATE past the watermark (its window was
    # emitted and evicted) → DROPPED; a row whose window state still lives
    # would instead merge — the drop point is the watermark, not arrival
    # order. hour-13 advances the watermark to 11:30 for the final flush.
    _write("f3", [3, 13], now)

    got = windowed_counts_stream(
        spark,
        str(events_dir),
        str(tmp_path / "late_ckpt"),
        sink_table="wc_late",
        output_mode="append",
        max_files_per_trigger=1,
    )
    emitted = [str(r["window_start"]) for r in got.collect()]
    rows = {w: emitted.count(w) for w in emitted}
    # each window emitted EXACTLY once (append-mode exactly-once), and the
    # late hour-3 row is gone: its window's single emission counts 1 event
    assert all(v == 1 for v in rows.values())
    by_start = {str(r["window_start"]): r["n_events"] for r in got.collect()}
    assert by_start["2024-01-01 03:00:00"] == 1
    # batch over the same directory counts it — the drop is the watermark's
    batch_n = (
        spark.read.parquet(str(events_dir)).where(F.hour("ts") == 3).count()
    )
    assert batch_n == 2
    # append emits exactly the windows the final watermark (11:30) passed
    assert set(by_start) == {f"2024-01-01 {h:02d}:00:00" for h in range(11)}
    assert all(v == 1 for v in by_start.values())


def test_stateful_streaming_profiles(spark, tmp_path):
    """applyInPandasWithState per-user profiles across micro-batches must
    converge to the batch aggregate."""
    from searchengine_spark.streaming.stateful import user_profiles_stream

    sf = "/root/testdata/sf0.001"
    events_dir = str(tmp_path / "events_state")
    spark.read.parquet(f"{sf}/events.parquet").repartition(6).write.parquet(events_dir)

    got = {
        r["user_id"]: (r["n"], round(r["sum_value"], 6), r["last_ts"])
        for r in user_profiles_stream(
            spark, events_dir, str(tmp_path / "ckpt_state"), sink_table="up_test"
        ).collect()
    }
    batch = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
            F.max(F.col("ts").cast("timestamp").cast("long")).alias("last_ts"),
        )
    )
    want = {
        r["user_id"]: (r["n"], round(r["sum_value"], 6), r["last_ts"])
        for r in batch.collect()
    }
    assert got == want


# --------------------------------------------------------- multimodal ----

def test_multimodal_features(spark):
    from searchengine_spark.ml.multimodal import (
        FEATURE_DIM,
        extract_features,
        resize_plan,
        sample_frames,
        synthesize_media,
    )

    media = synthesize_media(spark, 60, parallelism=6)
    feats = extract_features(media).collect()
    assert len(feats) == 60
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["feature"]) == FEATURE_DIM for r in feats)
    # unit norm, deterministic across partitionings
    media1 = synthesize_media(spark, 60, parallelism=2)
    feats1 = {r["media_id"]: r["feature"] for r in extract_features(media1).collect()}
    for mid, r in by_id.items():
        assert feats1[mid] == r["feature"]
        assert abs(math.fsum(x * x for x in r["feature"]) - 1.0) < 1e-5

    # frame sampling: video rows explode, others stay single
    frames = sample_frames(media, every_n=2).groupBy("media_id").count().collect()
    kinds = {r["media_id"]: (r["kind"], r["n_frames"]) for r in media.collect()}
    for r in frames:
        kind, n = kinds[r["media_id"]]
        want = math.ceil(n / 2) if kind == "video" else 1
        assert r["count"] == want, (r, kind, n)

    # resize plan is JVM-only math
    plan = {r["media_id"]: r for r in resize_plan(media, max_side=20).collect()}
    for mid, (kind, _) in kinds.items():
        r = plan[mid]
        assert max(r["target_w"], r["target_h"]) <= 20
        assert r["target_w"] <= r["width"] and r["target_h"] <= r["height"]


def test_multimodal_decode_stub_rejects_real_media(spark):
    from searchengine_spark.ml.multimodal import decode_payload

    with pytest.raises(NotImplementedError):
        decode_payload(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)
