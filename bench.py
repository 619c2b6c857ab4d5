"""Benchmark harness: the ``__spark_entry__`` query walls and the pinned N→4N
scaling probe.

perfbench (``BENCHMARK.json``) times build, batch and serve layer by layer
and checks their answers. This script keeps what it does not do:

  - the wall of every ``__spark_entry__.queries()`` entry at
    ``$SPARK_GRAFT_SF_DIR`` (median of ``QUERY_REPS``), a plan dump per
    query under ``BENCH/plans/``, and the recall of the approximate
    operators (``ann_recall_curve``, ``neardup_pair_recall``,
    ``lsh_pair_recall``);
  - one pinned N→4N index-build scaling experiment, the evidence for
    ``BASELINE.json``'s efficiency ≥ 0.8 rule (method in
    ``BENCH/BASELINE.md``).

Env knobs: SPARK_GRAFT_SF_DIR (default: the sf0.1 test data),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on).

    python bench.py            # full run
    python bench.py --plans    # refresh the plan dumps only

The last stdout line is one compact JSON object; the full record
(per-query bands, recall diagnostics, every probe's phase seconds) lands
in ``BENCH/detail_latest.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

_SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None
_REPO = os.path.dirname(os.path.abspath(__file__))

QUERY_REPS = 3
# 40k url-sorted docs: the fixed per-build tail (id stats, lexicon) stays
# under a tenth of the 4N side's wall, while a 1→4 pair, JVM starts and
# warm-up builds included, takes ~2.5 min on a shared 4-core host
SCALING_DOCS = 40_000
SCALING_PAIRS = 3
SCALING_FILES = 64


# --------------------------------------------------------------------------
# N→4N scaling experiment (BASELINE.json: efficiency ≥ 0.8)
# --------------------------------------------------------------------------

def _stage_scaling_corpus() -> tuple[str, str]:
    """Stage the probes' input once, untimed: url-sorted pages parquet in
    SCALING_FILES files (disjoint url ranges per read partition, so the id
    assignment and hence the whole build is shuffle-free, the sorted-crawl
    shape), plus a small warm-up corpus of the same shape."""
    from searchengine_spark.corpus import generate_pages
    from searchengine_spark.session import get_spark

    spark = get_spark("scaling-stage")
    pages_dir = tempfile.mkdtemp(prefix="scale_pages_", dir=_SCRATCH)
    warm_dir = tempfile.mkdtemp(prefix="scale_warm_", dir=_SCRATCH)
    try:
        generate_pages(spark, SCALING_DOCS, parallelism=SCALING_FILES).repartitionByRange(
            SCALING_FILES, "url"
        ).sortWithinPartitions("url").write.mode("overwrite").parquet(pages_dir)
        generate_pages(spark, 4000, parallelism=8).repartitionByRange(
            4, "url"
        ).sortWithinPartitions("url").write.mode("overwrite").parquet(warm_dir)
    finally:
        spark.stop()
    return pages_dir, warm_dir


def _pin_cores(n: int) -> str | None:
    """taskset CPU list of the first ``n`` CPUs this process may run on,
    or None when taskset is missing or fewer than ``n`` are available.
    Pinning makes the efficiency denominator real hardware: an unpinned
    ``local[n]`` probe spreads its JVM and Python workers over more than
    ``n`` cores."""
    allowed = sorted(os.sched_getaffinity(0))
    if shutil.which("taskset") is None or n > len(allowed):
        return None
    return ",".join(str(c) for c in allowed[:n])


def _probe(cpus: int, pages_dir: str, warm_dir: str, cores: str) -> dict:
    """One timed build at ``local[cpus]`` in its own JVM
    (jobs/scaling_probe.py), the whole process tree pinned to ``cores``."""
    cmd = [
        "taskset", "-c", cores,
        sys.executable, os.path.join(_REPO, "jobs", "scaling_probe.py"),
        "--cpus", str(cpus),
        "--pages-dir", pages_dir,
        "--n-docs", str(SCALING_DOCS),
        "--warmup-dir", warm_dir,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=_REPO)
    if out.returncode:
        raise RuntimeError(
            f"probe local[{cpus}] exited {out.returncode}: {out.stderr[-500:]}"
        )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _scaling_experiment(cpus: int) -> dict:
    """Paired N→4N build throughput on one staged corpus, N = cpus // 4.

    Each pair runs both probes back to back, lo first on even pairs and
    hi first on odd ones, so drift over the experiment hits the two sides
    alike. Efficiency is the median of the per-pair (hi/lo)/4; every pair
    is reported and none is discarded or redrawn."""
    n_lo = cpus // 4
    n_hi = 4 * n_lo
    if n_lo < 1:
        return {"skipped": f"{cpus} CPUs: an N→4N pair needs at least 4"}
    pins = {n_lo: _pin_cores(n_lo), n_hi: _pin_cores(n_hi)}
    if None in pins.values():
        return {"skipped": f"cannot pin {n_hi} CPUs with taskset"}
    pages_dir, warm_dir = _stage_scaling_corpus()
    try:
        runs = []
        for i in range(SCALING_PAIRS):
            order = (n_lo, n_hi) if i % 2 == 0 else (n_hi, n_lo)
            got = {n: _probe(n, pages_dir, warm_dir, pins[n]) for n in order}
            runs.append(
                {
                    "first": order[0],
                    "docs_per_sec": {str(n): got[n]["docs_per_sec"] for n in order},
                    "phase_secs": {str(n): got[n].get("phase_secs", {}) for n in order},
                    "efficiency": round(
                        got[n_hi]["docs_per_sec"] / got[n_lo]["docs_per_sec"] / 4, 3
                    ),
                }
            )
    finally:
        shutil.rmtree(pages_dir, ignore_errors=True)
        shutil.rmtree(warm_dir, ignore_errors=True)
    return {
        "n_lo": n_lo,
        "n_hi": n_hi,
        "cores": {str(n): c for n, c in pins.items()},
        "n_docs": SCALING_DOCS,
        "efficiency": round(statistics.median(r["efficiency"] for r in runs), 3),
        "docs_per_sec_hi": statistics.median(
            r["docs_per_sec"][str(n_hi)] for r in runs
        ),
        "pairs": runs,
    }


# --------------------------------------------------------------------------
# __spark_entry__ query suite
# --------------------------------------------------------------------------

# Plans that aren't queries() entries but are load-bearing sub-plans a
# query checkpoints away before the judge can see them (the IVF e-step's
# Arrow kernel only appears pre-checkpoint; the query-time plan reads
# `Scan ExistingRDD`). Dumped alongside so the committed artifacts show
# the full execution shape. Keep in sync with tests/test_plan_audit.py.
AUX_PLAN_DUMPS = ("ann_ivf_assign_kernel",)


def refresh_plan_dumps(spark, sf_dir: str, walls: dict | None = None) -> None:
    """Rewrite BENCH/plans/<name>.txt for EVERY driver query plus the
    auxiliary sub-plans, deleting dumps for queries that no longer exist,
    so every committed dump matches a fresh explain() of live code.
    Standalone refresh: `python bench.py --plans` (no walls recorded).
    """
    import contextlib
    import io

    import __spark_entry__ as entry_mod

    plans_dir = os.path.join(_REPO, "BENCH", "plans")
    os.makedirs(plans_dir, exist_ok=True)
    qs_all = entry_mod.queries()
    keep = set(qs_all) | set(AUX_PLAN_DUMPS)
    for stale in os.listdir(plans_dir):
        if stale.endswith(".txt") and stale[:-4] not in keep:
            os.unlink(os.path.join(plans_dir, stale))

    def _dump(name: str, df) -> None:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        wall = (walls or {}).get(name)
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
            f.write(
                f"# wall: {wall} s at {sf_dir}\n"
                if wall is not None
                else f"# plan-only refresh at {sf_dir} (no wall recorded)\n"
            )
            f.write(buf.getvalue())

    order = sorted(qs_all, key=lambda n: -(walls or {}).get(n, 0.0))
    for name in order:
        _dump(name, qs_all[name](spark, sf_dir))
    # the checkpointed IVF assignment sub-plan (MapInPandas Arrow e-step)
    e = entry_mod._ivf_e(spark, sf_dir)
    cent_rows = entry_mod._ivf_fit_cached(spark, sf_dir)
    _dump("ann_ivf_assign_kernel", entry_mod._ivf_assign2_kernel(e, cent_rows))


def _or_error(fn, *args):
    """``fn(*args)``, or its error as a dict: a failed diagnostic or
    scaling probe must not cost the run its other numbers."""
    try:
        return fn(*args)
    except Exception as exc:
        traceback.print_exc()
        return {"error": f"{type(exc).__name__}: {exc}"}


def _query_suite(sf_dir: str, cpus: int) -> dict:
    """Median-of-QUERY_REPS wall per ``__spark_entry__`` query, the plan dumps, and
    the recall of the approximate operators."""
    import __spark_entry__ as entry_mod
    from searchengine_spark.session import get_spark

    spark = get_spark("bench-suite", master=f"local[{cpus}]", shuffle_partitions=cpus)
    walls: dict[str, float] = {}
    bands: dict[str, list] = {}
    try:
        for name, fn in entry_mod.queries().items():
            secs = []
            for _ in range(QUERY_REPS):
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                secs.append(time.perf_counter() - t0)
            walls[name] = round(statistics.median(secs), 3)
            bands[name] = [round(min(secs), 3), round(max(secs), 3)]
        refresh_plan_dumps(spark, sf_dir, walls=walls)
        # LSH recall against exact Jaccard is O(d²) in the ground truth:
        # run it at sf0.01 when that data sits beside sf_dir
        sf001_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
        return {
            "queries": walls,
            "query_bands": bands,
            "ann_recall_curve": _or_error(entry_mod.ann_recall_curve, spark, sf_dir),
            "neardup_pair_recall": _or_error(
                entry_mod.neardup_pair_recall, spark, sf_dir
            ),
            "lsh_pair_recall": _or_error(
                entry_mod.lsh_pair_recall,
                spark,
                sf001_dir if os.path.isdir(sf001_dir) else sf_dir,
            ),
        }
    finally:
        spark.stop()


def main() -> None:
    from searchengine_spark.session import default_cpus, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    if "--plans" in sys.argv[1:]:  # refresh every plan dump, nothing else
        spark = get_spark("bench-plans", master=f"local[{cpus}]", shuffle_partitions=cpus)
        try:
            refresh_plan_dumps(spark, sf_dir)
        finally:
            spark.stop()
        return
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0

    scaling = _or_error(_scaling_experiment, cpus)
    suite = _query_suite(sf_dir, cpus)

    detail = {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "query_reps": QUERY_REPS,
        **suite,
        "scaling": scaling,
    }
    detail_path = os.path.join(_REPO, "BENCH", "detail_latest.json")
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # the last stdout line stays compact: phase seconds stay in the detail
    headline = dict(scaling)
    if "pairs" in headline:
        headline["pairs"] = [
            {k: v for k, v in r.items() if k != "phase_secs"} for r in scaling["pairs"]
        ]
    line = {
        "metric": "index_build_docs_per_sec",
        "value": scaling.get("docs_per_sec_hi"),
        "unit": "docs/sec",
        "queries": suite["queries"],
        "sf": sf,
        # build, batch and serve are perfbench's (BENCHMARK.json)
        "batch_qps": None,
        "serve_p50_ms": None,
        "scaling": headline,
        "detail_path": os.path.relpath(detail_path, _REPO),
    }
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
