"""Plan-audit regression gate (VERDICT r2 #6).

CLAUDE.md's plan-audit rule, made a failing test: every driver
`queries()` entry must compile to a plan with NO row-at-a-time Python
(BatchEvalPython), NO CartesianProduct, and top-k entries must use
TakeOrderedAndProject (never a global sort). Plans are compiled lazily
against the sf0.001 testdata — nothing executes, so the whole battery
audits in seconds and runs in every CI pass.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _queries():
    import __spark_entry__ as entry

    return entry.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    return {name: _plan(fn(spark, SF_DIR)) for name, fn in _queries().items()}


def test_no_row_python_anywhere(plans):
    """Python reaches the JVM only through Arrow (ArrowEvalPython /
    MapInPandas); BatchEvalPython in any driver query is a regression."""
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_no_cartesian_product(plans):
    """Self-joins (jaccard, LSH banding) must join on keys or broadcast;
    an unkeyed CartesianProduct is quadratic shuffle-free only by luck."""
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"CartesianProduct in: {bad}"


def test_topk_uses_take_ordered(plans):
    """Every *_topk query must compile to TakeOrderedAndProject — a
    global Sort+Limit materializes the full order at scale."""
    for name, p in plans.items():
        if name.endswith("_topk"):
            assert "TakeOrderedAndProject" in p, f"{name} lost its top-k plan"


def test_scans_prune_columns(plans):
    """Column pruning must reach the parquet scan: queries that never
    touch `source`/`n_chars` on the documents table must not read them
    (a scan reading all columns for a 2-column projection is wrong)."""
    for name in ("token_counts", "doc_fingerprint", "dedup_exact"):
        for line in plans[name].splitlines():
            if "ReadSchema" in line:
                assert "n_chars" not in line and "source" not in line, (
                    f"{name} scans unneeded columns: {line.strip()}"
                )


def test_ivf_assign_kernel_is_map_side_arrow(spark):
    """The production Arrow e-step must keep the zero-shuffle shape —
    no Exchange, no Window (a window argmin would shuffle n×K rows per
    Lloyd pass) — and run as MapInPandas (Arrow-batched), never
    row-at-a-time BatchEvalPython."""
    import __spark_entry__ as entry

    e = entry._ivf_e(spark, SF_DIR)
    cent_rows = entry._ivf_fit_cached(spark, SF_DIR)
    p = _plan(entry._ivf_assign2_kernel(e, cent_rows))
    assert "Exchange" not in p, p
    assert "Window" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "MapInPandas" in p or "PythonMapInArrow" in p, p


def test_committed_plan_dumps_are_current():
    """Committed BENCH/plans artifacts must describe the LIVE engine
    (VERDICT r4 #1: a stale ann_ivf_topk dump showed the pre-kernel
    interpreted-HOF centroid fold the code no longer produces).

    - every dump file corresponds to a live queries() entry (or a
      declared auxiliary sub-plan from bench.AUX_PLAN_DUMPS);
    - the IVF query dump carries NO HOF aggregate() inside a Filter
      (the centroid fold is gone — assignment is a checkpointed Arrow
      kernel, visible as `Scan ExistingRDD` at query time);
    - the auxiliary assignment dump shows the Arrow kernel itself
      (MapInPandas / PythonMapInArrow) with zero Exchange.
    """
    import bench

    plans_dir = os.path.join(os.path.dirname(__file__), "..", "BENCH", "plans")
    if not os.path.isdir(plans_dir):
        pytest.skip("no committed plan dumps")
    live = set(_queries()) | set(bench.AUX_PLAN_DUMPS)
    stale = [
        f for f in os.listdir(plans_dir)
        if f.endswith(".txt") and f[:-4] not in live
    ]
    assert not stale, f"plan dumps for queries that no longer exist: {stale}"

    ivf = os.path.join(plans_dir, "ann_ivf_topk.txt")
    if os.path.exists(ivf):
        with open(ivf) as f:
            txt = f.read()
        bad = [
            ln for ln in txt.splitlines()
            if "Filter" in ln and "aggregate(" in ln
        ]
        assert not bad, f"HOF fold back inside a Filter: {bad[0][:200]}"
        assert "Scan ExistingRDD" in txt, (
            "IVF query no longer reads the checkpointed Arrow assignment"
        )

    aux = os.path.join(plans_dir, "ann_ivf_assign_kernel.txt")
    assert os.path.exists(aux), "assignment-kernel plan dump missing"
    with open(aux) as f:
        atxt = f.read()
    assert "MapInPandas" in atxt or "PythonMapInArrow" in atxt, atxt[:500]
    assert "Exchange" not in atxt, atxt[:500]


def test_ivf_fit_shared_across_queries(spark):
    """ann_ivf_topk and embedding_neardup_pairs must reuse one fitted
    quantizer per (session, sf) instead of refitting k-means inline."""
    import __spark_entry__ as entry

    entry._IVF_FIT_CACHE.clear()
    qs = entry.queries()
    qs["ann_ivf_topk"](spark, SF_DIR)
    assert len(entry._IVF_FIT_CACHE) == 1
    fitted = next(iter(entry._IVF_FIT_CACHE.values()))
    qs["embedding_neardup_pairs"](spark, SF_DIR)
    assert len(entry._IVF_FIT_CACHE) == 1  # cache hit, no refit
    assert next(iter(entry._IVF_FIT_CACHE.values())) is fitted
