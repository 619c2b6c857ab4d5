#!/usr/bin/env python3
"""End-to-end benchmark of the engine: index build, Spark batch top-k and
the Spark-free serving tier, on seeded inputs.

    python3 perfbench/run.py --workload uniform_hot --seed 1 --seconds 8 --trace 0

Runs from any working directory. Each run stages a fresh seeded corpus,
starts a ``local[n]`` Spark session sized from this process's CPU
affinity and RAM, times one index build and, after a warm-up batch, a
repeated batch of ranked queries, stops Spark, then times a single
closed-loop client on a ``LocalIndexReader`` and the reader's set-up. Answers are checked outside the timed regions; any
wrong answer makes ``correct`` false and the exit code 1. The last line
of stdout is the result JSON. ``--trace 1`` reports per-layer metrics
instead of the end-to-end ones (see README.md).
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

K = 20
SETUP_REPS = 5  # serve set-ups timed; setup_s is their median
BATCH_REPS = 2  # timed batches after the warm-up one; batch_qps uses their median
BOOLEAN_EVERY = 4  # every 4th op is boolean, the rest ranked
# each reported tail keeps at least 10 samples beyond it
RANKED_TAIL, MIN_RANKED = 95, 400
BOOLEAN_TAIL, MIN_BOOLEAN = 90, 130
SERVE_CAP_S = 60.0
HOT_RANKED = 120  # distinct ranked queries the hot client cycles over
HOT_BOOLEAN = 40  # distinct boolean queries the hot client cycles over
COLD_WARMUP = 20  # ranked queries the cold reader is warmed with
CHECKED_BATCH = 40  # batch queries whose serve answers are checked, at least
UNPRUNED_CHECKS = 30

WORKLOADS = {
    # crawl-shaped corpus, default 4096-doc buckets, a query pool whose
    # blocks fit the reader's cache
    "uniform_hot": {"clustered": False, "bucket_docs": 4096, "serve": "hot"},
    # topic-clustered corpus, 256-doc buckets, a fresh query stream whose
    # blocks exceed the reader's cache
    "clustered_cold": {"clustered": True, "bucket_docs": 256, "serve": "cold"},
}

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "1/s",
    "batch_qps": "1/s",
    "index_bytes_per_text_byte": "ratio",
    "ranked_p50_ms": "ms",
    "ranked_p95_ms": "ms",
    "serve_qps": "1/s",
    "serve_mem_mb": "MB",
    "boolean_p50_ms": "ms",
    "boolean_p90_ms": "ms",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host() -> tuple[int, int]:
    """(cores this process may run on, Spark JVM memory in MB)."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return cores, int(min(4096, max(1024, ram_mb // 6)))


def start_spark(scratch: str, cores: int, mem_mb: int):
    # the engine reads these at import; PYTHONPATH is what Spark's Python
    # workers import the engine from (a sys.path edit stays in this process)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(scratch, "spark-local"),
    )
    from searchengine_spark.session import get_spark

    spark = get_spark(
        app="perfbench",
        master=f"local[{cores}]",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def dir_bytes(path: str, skip: str = "_manifests") -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        if skip not in d.split(os.sep)
        for f in files
    )


class Serve:
    """The serving half of a workload: the warm-up pass, the op stream, the
    boolean op checked against Spark, and the warm-up answers.

    Every ``BOOLEAN_EVERY``-th op is boolean. The hot client cycles over
    its warmed queries, each cycle in a fresh shuffled order, and stops only
    at the end of a cycle, so every query is sent equally often. The cold
    client sends a fresh query every op, shapes in a fixed cycle."""

    def __init__(self, cfg: dict, seed: int, corpus, batch_queries: list[tuple[int, str]]) -> None:
        import gen

        self.hot = cfg["serve"] == "hot"
        self.corpus = corpus
        self.rng = np.random.default_rng((gen.QUERY_RNG, 2))  # ranks, not words: see gen.py
        # the warm-up sends a prefix of the Spark batch, so its answers are
        # also what the serve-vs-batch check compares
        self.batch = batch_queries[: HOT_RANKED if self.hot else COLD_WARMUP]
        self.ranked = [q for _, q in self.batch]
        self.boolean = gen.boolean_pool(corpus, HOT_BOOLEAN) if self.hot else []
        self.warmup = [("ranked", q) for q in self.ranked] + [("boolean", q) for q in self.boolean]
        kind = seed % len(gen.BOOLEAN_KINDS)  # the checked kind rotates with the seed
        if self.hot:
            self.boolean_check = self.boolean[kind]
        else:
            self.boolean_check = gen.boolean_query(np.random.default_rng((seed, 12)), corpus, gen.BOOLEAN_KINDS[kind])
        self.sent = {"ranked": 0, "boolean": 0}
        self._order: dict[str, np.ndarray] = {}
        self.references: dict = {}

    def _cycle(self, kind: str, pool: list[str]) -> str:
        i = self.sent[kind] % len(pool)
        if i == 0:
            self._order[kind] = self.rng.permutation(len(pool))
        return pool[self._order[kind][i]]

    def next_op(self) -> tuple[str, str]:
        import gen

        kind = "boolean" if sum(self.sent.values()) % BOOLEAN_EVERY == BOOLEAN_EVERY - 1 else "ranked"
        if self.hot:
            q = self._cycle(kind, self.ranked if kind == "ranked" else self.boolean)
        elif kind == "ranked":
            q = gen.cold_query(self.rng, self.corpus, gen.COLD_SHAPES[self.sent[kind] % len(gen.COLD_SHAPES)])
        else:
            q = gen.boolean_query(self.rng, self.corpus, gen.BOOLEAN_KINDS[self.sent[kind] % len(gen.BOOLEAN_KINDS)])
        self.sent[kind] += 1
        return kind, q

    def may_stop(self) -> bool:
        """Enough samples for both tails, and (hot) at the end of a cycle."""
        r, b = self.sent["ranked"], self.sent["boolean"]
        return r >= MIN_RANKED and b >= MIN_BOOLEAN and (not self.hot or r % len(self.ranked) == b % len(self.boolean) == 0)

    def open(self, path: str):
        """Open the serving reader and run the warm-up pass (untimed)."""
        from searchengine_spark.query.serve import LocalIndexReader

        reader = LocalIndexReader(path)
        for kind, q in self.warmup:
            self.references[(kind, q)] = call(reader, kind, q)
        return reader

    def setup_times(self, path: str) -> tuple[list[float], list[list[str]]]:
        """Set up ``SETUP_REPS`` fresh readers: open one and answer the
        first warm-up query, which loads the reader's RAM lexicon,
        row-group index and doc metadata. Returns the times and, per set-up,
        the problems of its answer against the warm-up's."""
        import checks
        from searchengine_spark.query.serve import LocalIndexReader

        kind, q = self.warmup[0]
        times, problems = [], []
        for rep in range(SETUP_REPS):
            gc.collect()
            t0 = time.perf_counter()
            r = call(LocalIndexReader(path), kind, q)
            times.append(time.perf_counter() - t0)
            problems.append(checks.identical(r, self.references[(kind, q)], f"set-up {rep} {q!r} vs warm-up"))
        return times, problems


def call(reader, kind: str, q: str, stats: dict | None = None):
    if kind == "ranked":
        return reader.ranked_topk(q, k=K, scorer="bm25", stats=stats)
    return reader.boolean_query(q)


def serve_pass(reader, serve: Serve, seconds: float, tracer=None) -> dict:
    """Closed loop, one client: the next op is sent when the last returns.
    Runs for ``seconds`` and until ``serve.may_stop()``."""
    ops: list[tuple] = []  # (kind, query, result, stats, seconds)
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        if elapsed >= SERVE_CAP_S or (elapsed >= seconds and serve.may_stop()):
            break
        kind, q = serve.next_op()
        stats: dict = {}
        if tracer is not None:
            tracer.op = len(ops)
            span = tracer.begin("serve.op")
        t0 = time.perf_counter()
        try:
            r = call(reader, kind, q, stats)
        except Exception as e:  # counted as a failed op, the loop goes on
            if not any(isinstance(o[2], Exception) for o in ops):
                traceback.print_exc()
            r = e
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.end(span)
            tracer.op = None
        ops.append((kind, q, r, stats, dt))
    return {"ops": ops, "wall": time.perf_counter() - t_start}


def latencies(p: dict, kind: str) -> list[float]:
    return [o[4] for o in p["ops"] if o[0] == kind]


def check_serve(reader, serve: Serve, p: dict, seed: int) -> tuple[int, list[str]]:
    """Failed ops: errors, plus (hot) any answer that differs from the same
    query's warm-up answer, or (cold) a sampled ranked answer that differs
    from unpruned evaluation."""
    import checks

    problems = []
    failed = 0
    for i, (kind, q, r, _, _) in enumerate(p["ops"]):
        if isinstance(r, Exception):
            failed += 1
            problems.append(f"op {i} {kind} {q!r} raised {r!r}")
        elif serve.hot:
            bad = checks.identical(r, serve.references[(kind, q)], f"op {i} {q!r} vs warm-up")
            failed += bool(bad)
            problems += bad
    if not serve.hot:
        ranked = [i for i, o in enumerate(p["ops"]) if o[0] == "ranked" and not isinstance(o[2], Exception)]
        rng = np.random.default_rng((seed, 13))
        for i in rng.choice(ranked, min(UNPRUNED_CHECKS, len(ranked)), replace=False).tolist():
            q = p["ops"][i][1]
            want = reader.ranked_topk(q, k=K, scorer="bm25", prune=False)
            bad = checks.identical(p["ops"][i][2], want, f"op {i} {q!r} pruned vs unpruned")
            failed += bool(bad)
            problems += bad
    return failed, problems


def pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs), q))


def run(args, scratch: str) -> dict:
    import checks
    import gen
    import spans as tr

    cfg = WORKLOADS[args.workload]
    cores, mem_mb = host()
    info: dict = {"workload": args.workload, "seed": args.seed, "cores": cores, "spark_mem_mb": mem_mb}
    layers: dict[str, float] = {}
    problems: list[str] = []
    attempted = failed = 0
    phase_s: dict[str, float] = {}
    mark = [time.perf_counter()]

    def lap(name: str) -> float:
        now = time.perf_counter()
        phase_s[name] = now - mark[0]
        mark[0] = now
        return phase_s[name]

    def tally(bad: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        failed += bool(bad)
        problems.extend(bad)

    def make_inputs():
        corpus = gen.Corpus(args.seed, clustered=cfg["clustered"])
        corpus.stage(os.path.join(scratch, "pages"), files=cores)
        batch_queries = gen.batch_queries(args.seed, corpus)
        return corpus, batch_queries, Serve(cfg, args.seed, corpus, batch_queries)

    # the inputs are made while the JVM starts; both are set-up
    with ThreadPoolExecutor(1) as pool:
        made = pool.submit(make_inputs)
        spark = start_spark(scratch, cores, mem_mb)
        layers["spark.start_s"] = lap("spark_start")
        corpus, batch_queries, serve = made.result()
    pages_dir = os.path.join(scratch, "pages")
    info.update(docs=corpus.n_docs, html_only=corpus.html_only, text_bytes=corpus.text_bytes, bucket_docs=cfg["bucket_docs"])
    lap("inputs")
    sc = spark.sparkContext
    from searchengine_spark.index.build import IndexBuilder
    from searchengine_spark.query.boolean import boolean_query
    from searchengine_spark.query.exec import IndexHandle, ranked_topk_batch

    # -- build: the first in this session, as an index job pays it -------
    idx_dir = os.path.join(scratch, "index")  # fresh: a reused dir resumes
    sc.setJobGroup("perfbench-build", "index build")
    lap("build_prep")
    built = IndexBuilder(spark, idx_dir, bucket_docs=cfg["bucket_docs"]).build(spark.read.parquet(pages_dir))
    build_s = lap("build")
    tally([] if built["n_docs"] == corpus.n_docs else [f"build n_docs {built['n_docs']} != staged rows {corpus.n_docs}"])
    if args.trace:
        layers.update({f"spark.build.{k}": v for k, v in tr.stage_metrics(spark, "perfbench-build", build_s, cores).items()})

    # -- Spark batch: 225 ranked queries in one job, once to warm up and
    # to give the checked answers, then BATCH_REPS timed ----------------
    handle = IndexHandle(spark, idx_dir)
    sc.setJobGroup("perfbench-batch-warmup", "ranked batch warm-up")
    batch_rows = ranked_topk_batch(handle, batch_queries, k=K, scorer="bm25").collect()
    lap("batch_warmup")
    sc.setJobGroup("perfbench-batch", "ranked batch")
    plan_reps, batch_reps, reps_rows = [], [], []
    for rep in range(BATCH_REPS):
        t0 = time.perf_counter()
        df = ranked_topk_batch(handle, batch_queries, k=K, scorer="bm25")
        t1 = time.perf_counter()
        rows = df.collect()
        batch_reps.append(time.perf_counter() - t0)
        plan_reps.append(t1 - t0)
        reps_rows.append(rows)
    lap("batch")
    batch_s = statistics.median(batch_reps)
    if args.trace:
        m = tr.stage_metrics(spark, "perfbench-batch", sum(batch_reps), cores)
        layers.update({f"spark.batch.{k}": m[k] / BATCH_REPS for k in ("cpu_s", "shuffle_write_mb", "tasks")})
        layers["exec.batch_plan_ms"] = statistics.median(plan_reps) * 1e3
        layers["exec.batch_run_s"] = statistics.median(b - p for b, p in zip(batch_reps, plan_reps))
    sc.setJobGroup("perfbench-check", "answer checks")
    spark_boolean = [r["doc_id"] for r in boolean_query(handle, serve.boolean_check, with_urls=False).collect()]
    lap("spark_checks")
    stop_spark()
    lap("spark_stop")

    metrics = {
        "build_docs_per_s": corpus.n_docs / build_s,
        "batch_qps": len(batch_queries) / batch_s,
        "index_bytes_per_text_byte": dir_bytes(idx_dir) / corpus.text_bytes,
    }
    if args.trace:
        phases = built["phase_secs"]
        for name in ("id_stats", "docs", "postings", "lexicon"):
            layers[f"index.{name}_s"] = phases.get(name, 0.0)
        layers["index.unattributed_s"] = build_s - sum(layers[f"index.{n}_s"] for n in ("id_stats", "docs", "postings", "lexicon"))
        for key in ("postings", "blocks", "blob_bytes"):
            layers[f"index.{key}"] = sum(c[key] for c in built["chunks"])
        layers["text.tokenize_kernel_s"] = tokenize_kernel_s(corpus)
    del corpus.table, corpus.texts
    gc.collect()
    lap("after_spark")

    # -- serve: one closed-loop client, no Spark ------------------------
    rss0 = rss_mb()
    reader = serve.open(idx_dir)
    lap("serve_warmup")
    p = serve_pass(reader, serve, args.seconds)
    rss1 = rss_mb()
    lap("serve")
    ws, blocks_by_term = working_set(idx_dir, p)
    layers.update(ws)
    if args.trace:
        tracer = tr.Tracer()
        uninstall = tr.install(tracer, reader)
        try:
            traced = serve_pass(reader, serve, args.seconds, tracer)
        finally:
            uninstall()
        layers.update(trace_layers(tracer, traced, p, blocks_by_term))
        tracer.write(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        lap("serve_traced")

    f, probs = check_serve(reader, serve, p, args.seed)
    attempted += len(p["ops"])
    failed += f
    problems += probs
    rows_by_qid: dict[int, list] = {}
    for row in sorted(batch_rows, key=lambda r: (r["qid"], r["rank"])):
        rows_by_qid.setdefault(row["qid"], []).append(row)
    for qid, q in batch_queries[: max(CHECKED_BATCH, len(serve.batch))]:
        got = serve.references[("ranked", q)] if ("ranked", q) in serve.references else call(reader, "ranked", q)
        tally(checks.serve_vs_batch({qid: got}, rows_by_qid.get(qid, [])))
    for rep, rows in enumerate(reps_rows):
        tally([f"timed batch {rep}: {msg}" for msg in checks.serve_vs_batch(rows_by_qid, rows)])
    got = [r["doc_id"] for r in reader.boolean_query(serve.boolean_check)]
    tally(checks.identical(got, spark_boolean, f"boolean {serve.boolean_check!r} serve vs Spark"))
    lap("serve_checks")
    # set-up is timed last, on fresh readers, so it leaves serve_mem_mb alone
    del reader
    setup_reps, bad = serve.setup_times(idx_dir)
    for b in bad:
        tally(b)
    lap("setup")

    ranked, boolean = latencies(p, "ranked"), latencies(p, "boolean")
    metrics.update(
        setup_s=statistics.median(setup_reps),
        ranked_p50_ms=statistics.median(ranked) * 1e3,
        ranked_p95_ms=pct(ranked, RANKED_TAIL) * 1e3,
        serve_qps=len(p["ops"]) / p["wall"],
        serve_mem_mb=rss1 - rss0,
        boolean_p50_ms=statistics.median(boolean) * 1e3,
        boolean_p90_ms=pct(boolean, BOOLEAN_TAIL) * 1e3,
    )
    info.update(
        ranked_ops=len(ranked),
        boolean_ops=len(boolean),
        ranked_ms_p90_p99_max=[pct(ranked, q) * 1e3 for q in (90, 99, 100)],
        boolean_ms_p75_p95_max=[pct(boolean, q) * 1e3 for q in (75, 95, 100)],
        working_set_blocks=layers["serve.working_set_blocks"],
        cache_blocks=layers["serve.cache_blocks"],
        failed_frac=failed / attempted,
        batch_s_reps=batch_reps,
        setup_s_reps=setup_reps,
        phase_s={k: round(v, 3) for k, v in phase_s.items()},
        build_phase_s=built["phase_secs"],
    )
    for msg in problems[:20]:
        log(f"WRONG: {msg}")
    print(json.dumps({"info": info}), flush=True)
    if args.trace:
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def tokenize_kernel_s(corpus) -> float:
    """One core, in process: the columnar tokenize kernel the docs stage
    runs inside ``mapInArrow``, over the staged texts in Spark's Arrow
    batch size. Against ``index.docs_s`` it shows the UDF crossing."""
    import pyarrow as pa

    from searchengine_spark.session import ENGINE_CONFS
    from searchengine_spark.text.udfs import _tokenize_batch_columnar

    step = int(ENGINE_CONFS["spark.sql.execution.arrow.maxRecordsPerBatch"])
    batches = [pa.array(corpus.texts[i : i + step], pa.string()) for i in range(0, len(corpus.texts), step)]
    t0 = time.perf_counter()
    for b in batches:
        _tokenize_batch_columnar(b)
    return time.perf_counter() - t0


def working_set(idx_dir: str, p: dict) -> tuple[dict[str, float], dict[str, int]]:
    """Posting blocks of every distinct term the ranked ops asked for
    (lexicon ``n_blocks``), against the reader's default cache size; also
    returns the term -> blocks map."""
    import inspect

    import pyarrow.dataset as ds

    from searchengine_spark.query.exec import expand_ranked_query
    from searchengine_spark.query.serve import LocalIndexReader

    lex = ds.dataset(os.path.join(idx_dir, "lexicon")).to_table(columns=["term", "n_blocks"])
    blocks = dict(zip(lex["term"].to_pylist(), lex["n_blocks"].to_pylist()))
    terms = {t for kind, q, *_ in p["ops"] if kind == "ranked" for t in expand_ranked_query(q)}
    return {
        "serve.working_set_blocks": sum(blocks.get(t, 0) for t in terms),
        "serve.cache_blocks": inspect.signature(LocalIndexReader).parameters["cache_blocks"].default,
    }, blocks


def trace_layers(tracer, traced: dict, untraced: dict, blocks_by_term: dict[str, int]) -> dict[str, float]:
    """Per-op layer means from the traced pass. ``serve.block_miss_ratio``
    is posting block rows decoded over the blocks the ops' terms have:
    what neither the cache nor pruning saved."""
    import spans as tr

    from searchengine_spark.query.exec import expand_ranked_query

    ops = traced["ops"]
    kinds = {i: o[0] for i, o in enumerate(ops)}
    summary = tr.layer_summary(tracer, kinds)
    n_r = sum(1 for o in ops if o[0] == "ranked")
    n_b = len(ops) - n_r

    def get(kind, layer, key, per):
        return summary.get((kind, layer), {}).get(key, 0.0) / max(per, 1)

    term_blocks = sum(blocks_by_term.get(t, 0) for o in ops if o[0] == "ranked" for t in set(expand_ranked_query(o[1])))
    stats = [o[3] for o in ops if o[0] == "ranked" and o[3]]
    n_buckets = sum(s.get("n_buckets", 0) for s in stats)
    return {
        "trace.ranked_op_ms": sum(o[4] for o in ops if o[0] == "ranked") / max(n_r, 1) * 1e3,
        "serve.self_ms": get("ranked", "serve.op", "self_s", n_r) * 1e3,
        "storage.read_ms": get("ranked", "storage.read", "self_s", n_r) * 1e3,
        "storage.reads": get("ranked", "storage.read", "n", n_r),
        "storage.bytes": get("ranked", "storage.read", "bytes", n_r),
        "varbyte.decode_ms": get("ranked", "varbyte.decode", "self_s", n_r) * 1e3,
        "varbyte.decode_calls": get("ranked", "varbyte.decode", "n", n_r),
        "serve.buckets": n_buckets / max(len(stats), 1),
        "serve.probed": sum(s.get("probed", 0) for s in stats) / max(len(stats), 1),
        "serve.survivors": sum(s.get("survivors", 0) for s in stats) / max(len(stats), 1),
        "serve.pruned_frac": sum(s.get("pruned", 0) for s in stats) / max(n_buckets, 1),
        "serve.block_miss_ratio": summary.get(("ranked", "varbyte.decode"), {}).get("blocks", 0.0) / max(term_blocks, 1),
        "trace.boolean_op_ms": sum(o[4] for o in ops if o[0] == "boolean") / max(n_b, 1) * 1e3,
        "boolean.self_ms": get("boolean", "serve.op", "self_s", n_b) * 1e3,
        "boolean.plan_ms": get("boolean", "boolean.plan", "self_s", n_b) * 1e3,
        "boolean.storage_read_ms": get("boolean", "storage.read", "self_s", n_b) * 1e3,
        "boolean.storage_bytes": get("boolean", "storage.read", "bytes", n_b),
        "boolean.decode_ms": get("boolean", "varbyte.decode", "self_s", n_b) * 1e3,
        "trace.overhead_frac": statistics.median(latencies(traced, "ranked")) / statistics.median(latencies(untraced, "ranked")) - 1.0,
    }


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"), ("_ratio", "ratio"), ("bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("searchengine_spark") is None:
        log(f"searchengine_spark not found under {ROOT}: run from a checkout of the engine")
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    cwd = os.getcwd()
    os.chdir(scratch)  # stray session files (warehouse, logs) land in scratch
    try:
        result = run(args, scratch)
    finally:
        try:
            stop_spark()
        finally:
            os.chdir(cwd)
            shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
