"""Unit tests for bench.py's pinned N→4N scaling experiment.

`_scaling_experiment` is driven with monkeypatched staging and probes (no
subprocesses, no Spark); the tests pin the pair order, the efficiency
reading and that every pair is reported as drawn.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _fake(monkeypatch, pair_script):
    """Serve one (lo_dps, hi_dps) per pair, keyed by cpus so the fake is
    agnostic to the per-pair order; returns the probe call log."""
    calls, pairs, current = [], iter(pair_script), {}

    def fake_probe(cpus, pages_dir, warm_dir, cores):
        if not current:
            current.update(zip((1, 4), next(pairs)))
        dps = current.pop(cpus)
        calls.append((cpus, cores))
        return {"docs_per_sec": dps, "phase_secs": {"docs": 1000.0 / dps}}

    monkeypatch.setattr(bench, "_stage_scaling_corpus", lambda: ("/x/p", "/x/w"))
    monkeypatch.setattr(bench, "_probe", fake_probe)
    monkeypatch.setattr(bench, "_pin_cores", lambda n: ",".join(map(str, range(n))))
    return calls


def test_pair_order_alternates(monkeypatch):
    calls = _fake(monkeypatch, [(1000, 3200)] * 3)
    out = bench._scaling_experiment(cpus=4)
    assert calls == [(1, "0"), (4, "0,1,2,3"), (4, "0,1,2,3"), (1, "0"),
                     (1, "0"), (4, "0,1,2,3")]
    assert [r["first"] for r in out["pairs"]] == [1, 4, 1]
    assert (out["n_lo"], out["n_hi"]) == (1, 4)


def test_clean_pairs_no_retry(monkeypatch):
    # exactly `pairs` pairs are drawn; efficiency is the median of the
    # per-pair (hi/lo)/4, not a ratio of medians
    calls = _fake(monkeypatch, [(1000, 3200), (800, 3400), (1000, 2400)])
    out = bench._scaling_experiment(cpus=4)
    assert len(calls) == 6
    assert [r["efficiency"] for r in out["pairs"]] == [0.8, 1.062, 0.6]
    assert out["efficiency"] == 0.8
    assert out["docs_per_sec_hi"] == 3200


def test_collapsed_pair_reported_not_redrawn(monkeypatch):
    # a pair whose hi side collapses to lo speed (0.25) stays in the
    # record and in the median; no extra pair is drawn to replace it
    calls = _fake(monkeypatch, [(1000, 3200), (1000, 1000), (1000, 3200)])
    out = bench._scaling_experiment(cpus=4)
    assert len(calls) == 6
    assert [r["efficiency"] for r in out["pairs"]] == [0.8, 0.25, 0.8]
    assert out["efficiency"] == 0.8
    assert out["pairs"][1]["docs_per_sec"] == {"4": 1000, "1": 1000}


def test_superlinear_pair_reported_not_redrawn(monkeypatch):
    # the other side of the implausible band: 4.8x for 4x cores (1.2) is
    # kept and reported with its per-phase times, not discarded
    calls = _fake(monkeypatch, [(1000, 3200), (1000, 4800), (1000, 3200)])
    out = bench._scaling_experiment(cpus=4)
    assert len(calls) == 6
    assert [r["efficiency"] for r in out["pairs"]] == [0.8, 1.2, 0.8]
    assert out["efficiency"] == 0.8
    assert out["pairs"][1]["phase_secs"] == {"4": {"docs": 1000.0 / 4800},
                                             "1": {"docs": 1.0}}


def test_every_bad_pair_kept_without_retry(monkeypatch):
    # every pair collapsed: all are kept and the median reads the real,
    # if implausible, 0.25
    calls = _fake(monkeypatch, [(1000, 1000)] * 3)
    out = bench._scaling_experiment(cpus=4)
    assert len(calls) == 6
    assert [r["efficiency"] for r in out["pairs"]] == [0.25, 0.25, 0.25]
    assert out["efficiency"] == 0.25
    assert out["docs_per_sec_hi"] == 1000


def test_pair_count_is_fixed(monkeypatch):
    # the number of pairs is SCALING_PAIRS whatever the readings; a low
    # efficiency does not extend the experiment
    monkeypatch.setattr(bench, "SCALING_PAIRS", 5)
    calls = _fake(monkeypatch, [(1000, 2000)] * 5)
    out = bench._scaling_experiment(cpus=4)
    assert len(calls) == 10
    assert len(out["pairs"]) == 5
    assert [r["first"] for r in out["pairs"]] == [1, 4, 1, 4, 1]
    assert out["efficiency"] == 0.5


def test_pin_cores_uses_allowed_cpus(monkeypatch):
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {7, 5, 4, 6})
    monkeypatch.setattr(bench.shutil, "which", lambda name: "/usr/bin/taskset")
    assert bench._pin_cores(1) == "4"
    assert bench._pin_cores(4) == "4,5,6,7"
    assert bench._pin_cores(8) is None


def test_fewer_than_four_cpus_skipped(monkeypatch):
    calls = _fake(monkeypatch, [])
    out = bench._scaling_experiment(cpus=3)
    assert "skipped" in out and calls == []


def test_unpinned_regime_flagged_in_payload(monkeypatch):
    # no unpinned fallback: a pair that cannot be pinned is not measured
    calls = _fake(monkeypatch, [])
    monkeypatch.setattr(bench, "_pin_cores", lambda n: None if n == 4 else "0")
    out = bench._scaling_experiment(cpus=4)
    assert out["skipped"].startswith("cannot pin 4 CPUs") and calls == []
