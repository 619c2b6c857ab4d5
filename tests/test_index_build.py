"""Spark index build vs the NumPy oracle: structure invariants + content
equality (df, tf, positions, Ld, doc ids) on a 300-page synthetic corpus
built with deliberately tiny buckets/chunks."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.varbyte import (
    decode_position_lists,
    decode_sorted,
    vb_decode,
)


def _load_engine_index(spark, built_index):
    post = spark.read.option(
        "basePath", os.path.join(built_index, "postings")
    ).parquet(os.path.join(built_index, "postings"))
    rows = post.orderBy("term", "bucket", "doc_first").collect()
    idx = {}
    for r in rows:
        docs = decode_sorted(bytes(r["docs_vb"]))
        tfs = vb_decode(bytes(r["tfs_vb"])).astype(int)
        poss = decode_position_lists(bytes(r["pos_vb"]), tfs)
        entry = idx.setdefault(r["term"], [])
        # (bucket, doc_first) ascending == docID ascending: blocks simply
        # concatenate (a bucket may span several physical blocks when a
        # segment/chunk boundary cuts it — their doc ranges are disjoint)
        for d, ps in zip(docs, poss):
            entry.append((int(d), [int(x) for x in ps]))
    return idx


def test_engine_index_matches_oracle(spark, built_index, oracle_index):
    engine = _load_engine_index(spark, built_index)
    oracle = {t: [(d, p) for d, p in v] for t, v in oracle_index.index.items()}
    assert set(engine) == set(oracle)
    for t in oracle:
        assert engine[t] == oracle[t], f"postings differ for {t!r}"


def test_assign_dense_ids_fast_path_sorted_input(spark, tmp_path):
    """Partition-sorted input (url-sorted parquet, one file per read
    partition) must take the ZERO-SHUFFLE id path: dense ids in global
    url order with no Exchange anywhere in the plan."""
    from searchengine_spark.index.build import assign_dense_ids

    n = 5000
    src = spark.range(n).select(
        F.format_string("https://x.example/%08d", F.col("id")).alias("url"),
        F.col("id").alias("payload"),
    )
    d = str(tmp_path / "sorted_pages")
    src.repartitionByRange(8, "url").sortWithinPartitions("url").write.parquet(d)
    # one file per read partition: Spark bin-packs SMALL files size-desc,
    # which scrambles key ranges across partitions (the auto-detect then
    # correctly falls back). At web scale files exceed the split size so
    # every partition is a single-file split and contiguity is free; here
    # openCostInBytes = maxPartitionBytes forces the same shape.
    old = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 27))
    try:
        # the conf stays set through materialization: the no-persist fast
        # path requires scan-partitioning-affecting confs stable between
        # the stats job and downstream jobs (the builder holds them for
        # the whole build; the docs-write density net catches violations)
        pages = spark.read.parquet(d)
        out = assign_dense_ids(pages, order_col="url")
        rows = out.select("url", "doc_id").collect()
        assert sorted(r["doc_id"] for r in rows) == list(range(n))
        by_url = sorted(rows, key=lambda r: r["url"])
        assert [r["doc_id"] for r in by_url] == list(range(n))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert out._sg_persisted is None  # exchange-free input: no pin
    finally:
        if out._sg_persisted is not None:
            out._sg_persisted.unpersist()
        if old is not None:
            spark.conf.set("spark.sql.files.openCostInBytes", old)
        else:
            spark.conf.unset("spark.sql.files.openCostInBytes")
    # multi-partition fast path: pre-ranged in-memory input keeps per-
    # partition offsets straight (plan assert skipped — the cached plan
    # prints its own staging exchange)
    src8 = src.repartitionByRange(8, "url")
    out8 = assign_dense_ids(src8, order_col="url")
    try:
        rows = out8.select("url", "doc_id").collect()
        by_url = sorted(rows, key=lambda r: r["url"])
        assert [r["doc_id"] for r in by_url] == list(range(n))
    finally:
        if out8._sg_persisted is not None:
            out8._sg_persisted.unpersist()


def test_assign_dense_ids_fallback_overlapping_input(spark):
    """Round-robin (overlapping) partitions must fall back to the range
    exchange and still produce dense ids in global url order."""
    from searchengine_spark.index.build import assign_dense_ids

    n = 3000
    src = (
        spark.range(n)
        .select(
            F.format_string("https://x.example/%08d", (F.col("id") * 7919) % n).alias("url")
        )
        .repartition(8)
    )
    out = assign_dense_ids(src, order_col="url", num_partitions=lambda rows: 6)
    try:
        rows = out.select("url", "doc_id").collect()
        assert sorted(r["doc_id"] for r in rows) == list(range(n))
        by_url = sorted(rows, key=lambda r: r["url"])
        assert [r["doc_id"] for r in by_url] == list(range(n))
    finally:
        if out._sg_persisted is not None:
            out._sg_persisted.unpersist()


def test_layout_guard_refuses_unstamped_resume(tmp_path):
    """A directory holding pre-layout-stamp build state (round-1-era) must
    be refused, not silently mixed with current-layout output."""
    from searchengine_spark.index.build import ensure_layout

    old = tmp_path / "old_idx"
    (old / "_manifests").mkdir(parents=True)
    (old / "_manifests" / "docs.json").write_text('{"stage": "docs", "rows": 1}')
    with pytest.raises(RuntimeError, match="layout"):
        ensure_layout(str(old))

    # wrong version stamp → refused too
    bad = tmp_path / "bad_idx"
    (bad / "_manifests").mkdir(parents=True)
    (bad / "_manifests" / "layout.json").write_text('{"layout": 1}')
    with pytest.raises(RuntimeError, match="layout version 1"):
        ensure_layout(str(bad))

    # fresh dir → stamped; second ensure is a no-op
    fresh = tmp_path / "fresh_idx"
    ensure_layout(str(fresh))
    ensure_layout(str(fresh))
    assert json.load(open(fresh / "_manifests" / "layout.json"))["layout"] == 2


def test_docs_table_matches_oracle(spark, built_index, oracle_index):
    docs = spark.read.parquet(os.path.join(built_index, "docs")).select(
        "doc_id", "url", "dl", "ld"
    )
    rows = {r["doc_id"]: r for r in docs.collect()}
    assert len(rows) == oracle_index.n_docs
    for d in range(oracle_index.n_docs):
        assert rows[d]["url"] == oracle_index.urls[d]
        assert rows[d]["dl"] == oracle_index.dl[d]
        assert rows[d]["ld"] == oracle_index.ld[d], f"Ld differs doc {d}"


def test_block_invariants(spark, built_index, oracle_index):
    post = spark.read.option(
        "basePath", os.path.join(built_index, "postings")
    ).parquet(os.path.join(built_index, "postings"))
    rows = post.collect()
    assert rows
    for r in rows:
        docs = decode_sorted(bytes(r["docs_vb"]))
        tfs = vb_decode(bytes(r["tfs_vb"])).astype(int)
        assert len(docs) == r["df_b"] == len(tfs)
        assert int(docs[0]) == r["doc_first"] and int(docs[-1]) == r["doc_last"]
        assert np.all(np.diff(docs) > 0), "docIDs strictly ascending in block"
        assert int(tfs.max()) == r["max_tf"]
        assert int(tfs.sum()) == r["cf_b"]
        assert r["bucket"] == r["doc_first"] // 64 == r["doc_last"] // 64
        assert abs(r["max_wdt"] - (1.0 + np.log(r["max_tf"]))) < 1e-12
        # the denormalized per-posting doc lengths and the block-min
        # norms pruning relies on, against the oracle's per-doc dl / Ld
        dls = vb_decode(bytes(r["dls_vb"])).astype(int)
        want_dl = [oracle_index.dl[int(d)] for d in docs]
        assert list(dls) == want_dl
        assert r["min_dl"] == min(want_dl)
        assert r["min_ld"] == min(oracle_index.ld[int(d)] for d in docs)


def test_lexicon_df(spark, built_index, oracle_index):
    lex = spark.read.parquet(os.path.join(built_index, "lexicon"))
    rows = {r["term"]: r for r in lex.collect()}
    assert set(rows) == set(oracle_index.index)
    for t, plist in oracle_index.index.items():
        assert rows[t]["df"] == len(plist)
        assert rows[t]["cf"] == sum(len(p) for _, p in plist)


def test_build_from_html_only(spark, small_corpus_pdf, built_index, tmp_path):
    """Pages carrying ONLY html (text null) index identically: the build
    extracts text via the Arrow UDF (byte-identity invariant)."""
    from searchengine_spark.index.build import IndexBuilder
    from searchengine_spark.query.exec import IndexHandle, ranked_topk

    sub = small_corpus_pdf.head(80).copy()
    pages = spark.createDataFrame(sub).withColumn(
        "text", F.lit(None).cast("string")
    )
    out = str(tmp_path / "html_idx")
    IndexBuilder(spark, out, bucket_docs=64).build(pages)

    ref_pages = spark.createDataFrame(sub)
    out2 = str(tmp_path / "text_idx")
    IndexBuilder(spark, out2, bucket_docs=64).build(ref_pages)
    for q in ["fast data", "state-of"]:
        a = [(r["url"], round(r["score"], 9))
             for r in ranked_topk(IndexHandle(spark, out), q, k=10, scorer="bm25").collect()]
        b = [(r["url"], round(r["score"], 9))
             for r in ranked_topk(IndexHandle(spark, out2), q, k=10, scorer="bm25").collect()]
        assert a == b, q


def test_split_master_json_reference_order(spark, tmp_path):
    """S1 literal form (FormCorpus.java:32-51): the master
    {"documents":[{"body":…}…]} file splits into per-doc rows whose url
    sort order reproduces the reference's sequential write index 1..N —
    so dense-id assignment downstream yields doc_id = N-1."""
    from searchengine_spark.corpus import split_master_json
    from searchengine_spark.index.build import assign_dense_ids

    bodies = [f"document body number {i} alpha beta" for i in range(1, 26)]
    master = tmp_path / "master.json"
    master.write_text(json.dumps({"documents": [{"body": b} for b in bodies]}))

    pages = split_master_json(spark, str(master))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    out = assign_dense_ids(pages, order_col="url")
    rows = sorted(out.select("doc_id", "text").collect(), key=lambda r: r["doc_id"])
    assert [r["text"] for r in rows] == bodies
    if out._sg_persisted is not None:
        out._sg_persisted.unpersist()


def test_resume_after_sigkill_mid_build(spark, tmp_path):
    """SURVEY §5 test-plan item 5, literal form (VERDICT r2 #7): SIGKILL a
    real spark-submit-shaped build subprocess mid-chunk, restart it, and
    the finished index must be logically identical to a clean one-shot
    build — same docs, lexicon, and decoded postings for every term."""
    import signal
    import subprocess
    import sys
    import time as _time

    from searchengine_spark.corpus import generate_pages
    from searchengine_spark.index.build import IndexBuilder
    from searchengine_spark.query.exec import IndexHandle, decoded_postings

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "killed_idx")
    cmd = [
        sys.executable, os.path.join(repo, "jobs", "build_index.py"),
        "--synth", "12000", "--out", out,
        "--bucket-docs", "256", "--chunk-docs", "1024",
    ]
    # plain-python invocation (no spark-submit --py-files): the repo root
    # must be importable in the child
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=repo)
    mdir = os.path.join(out, "_manifests")
    proc = subprocess.Popen(cmd, cwd=repo, env=env,
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        # kill -9 the instant the first of the 12 chunk manifests commits —
        # mid-build by construction (11 chunks + lexicon + meta outstanding)
        deadline = _time.time() + 180
        while _time.time() < deadline:
            done = os.listdir(mdir) if os.path.isdir(mdir) else []
            if any(f.startswith("postings_chunk_") for f in done):
                break
            if proc.poll() is not None:
                pytest.fail("build finished before the kill could land")
            _time.sleep(0.02)
        else:
            pytest.fail("build never committed a chunk")
        proc.send_signal(signal.SIGKILL)
        proc.wait(30)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert not os.path.exists(os.path.join(mdir, "meta.json")), "kill too late"

    # restart the SAME command: committed chunks skip, the rest completes
    subprocess.run(cmd, cwd=repo, env=env, check=True,
                   capture_output=True, timeout=600)
    assert os.path.exists(os.path.join(mdir, "meta.json"))

    # clean one-shot build, same corpus/params, for the identity check
    clean = str(tmp_path / "clean_idx")
    IndexBuilder(spark, clean, bucket_docs=256, chunk_docs=1024).build(
        generate_pages(spark, 12000)
    )

    a, b = IndexHandle(spark, out), IndexHandle(spark, clean)
    assert a.meta["n_docs"] == b.meta["n_docs"] == 12000
    docs_a = sorted(map(tuple, a.docs.select("doc_id", "url", "ld").collect()))
    docs_b = sorted(map(tuple, b.docs.select("doc_id", "url", "ld").collect()))
    assert docs_a == docs_b
    # logical lexicon identity: n_blocks is physical (segment splits track
    # the builder's parallelism — the subprocess runs Spark's default
    # local[*], the clean build this session's local[4])
    lex_cols = ["term", "df", "cf", "max_tf", "max_wdt"]
    lex_a = sorted(map(tuple, a.lexicon.select(*lex_cols).collect()))
    lex_b = sorted(map(tuple, b.lexicon.select(*lex_cols).collect()))
    assert lex_a == lex_b
    post_a = sorted(map(tuple, decoded_postings(a, None).collect()))
    post_b = sorted(map(tuple, decoded_postings(b, None).collect()))
    assert post_a == post_b


def test_resume_skips_committed_chunks(spark, small_corpus_pdf, built_index):
    """Re-running build over an already-complete directory must do no
    chunk work (all manifests committed) and leave results identical."""
    from searchengine_spark.index.build import IndexBuilder

    manifests = sorted(os.listdir(os.path.join(built_index, "_manifests")))
    b = IndexBuilder(spark, built_index, bucket_docs=64, chunk_docs=128)
    pages = spark.createDataFrame(small_corpus_pdf)
    stats = b.build(pages)
    assert stats["n_docs"] == 300
    assert sorted(os.listdir(os.path.join(built_index, "_manifests"))) == manifests
    # every chunk manifest carries lineage + metrics
    for m in manifests:
        payload = json.load(open(os.path.join(built_index, "_manifests", m)))
        if payload.get("stage") == "postings":
            assert payload["postings_per_sec"] > 0
            assert payload["lineage"]["bucket_docs"] == 64


def test_nested_encode_rejects_null_struct_fields():
    """A null tf would convert to NaN→garbage int64 and a null positions
    sublist would desync the varbyte carve — both silently. The kernel
    must fail loudly instead (ADVICE r4: it also ingests externally
    staged feather files, not just our own writer's output)."""
    import pyarrow as pa

    from searchengine_spark.index.build import _encode_partition_nested

    def mk(tf=2, positions=(0, 3)):
        ttype = pa.list_(
            pa.struct(
                [
                    ("term", pa.string()),
                    ("tf", pa.int64()),
                    ("positions", pa.list_(pa.int64())),
                ]
            )
        )
        terms = [[{"term": "alpha", "tf": tf, "positions": positions}]]
        return pa.RecordBatch.from_pydict(
            {
                "doc_id": pa.array([0], pa.int64()),
                "dl": pa.array([2], pa.int64()),
                "ld": pa.array([1.0], pa.float64()),
                "terms": pa.array(terms, ttype),
            }
        )

    assert sum(b.num_rows for b in _encode_partition_nested(iter([mk()]), 64)) > 0
    for bad in (mk(tf=None), mk(positions=None)):
        with pytest.raises(ValueError, match="null struct field"):
            list(_encode_partition_nested(iter([bad]), 64))

