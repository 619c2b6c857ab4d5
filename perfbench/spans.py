"""Benchmark-side tracing: in-memory spans around the calls the serving
tier makes into ``index.varbyte``, the pyarrow dataset reads and the
boolean planner, plus Spark task metrics read per job group from
Spark's status store. Nothing here runs in a timed (untraced) pass.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

# the names serve.py imports from index.varbyte; any that a later layout
# drops are simply not wrapped
_DECODERS = ("decode_sorted", "vb_decode", "decode_position_lists")
_READERS = ("postings", "lexicon", "docs")


class Tracer:
    """Spans as ``[name, start, end, parent, op, attrs]`` rows."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: int | None = None

    def begin(self, name: str) -> int:
        i = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op, {}])
        self._stack.append(i)
        return i

    def end(self, i: int) -> None:
        self._stack.pop()
        self.spans[i][2] = time.perf_counter()

    def wrap(self, name: str, fn, measure=None):
        def traced(*a, **k):
            i = self.begin(name)
            try:
                out = fn(*a, **k)
            finally:
                self.end(i)
            if measure is not None:
                self.spans[i][5].update(measure(out))
            return out

        return traced

    def self_times(self) -> list[tuple[str, int | None, float, dict]]:
        """``(name, op, self seconds, attrs)`` per span: its duration minus
        the durations of its direct children."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent, op, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        return [(n, op, e - s - child[i], a) for i, (n, s, e, _, op, a) in enumerate(self.spans)]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, (n, s, e, parent, op, a) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": n, "start": s, "end": e, "parent": parent, "op": op, **a}) + "\n")


class _TracedDataset:
    """A pyarrow dataset whose ``to_table`` reads are spans."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self.to_table = tracer.wrap("storage.read", inner.to_table, lambda t: {"bytes": t.nbytes})

    def __getattr__(self, name):
        return getattr(self._inner, name)


class _TracedDatasetModule:
    """Stands in for ``pyarrow.dataset`` inside serve.py, so the row-group
    subset datasets serve assembles per fetch are traced too."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def FileSystemDataset(self, *a, **k):  # noqa: N802 — pyarrow's name
        return _TracedDataset(self._inner.FileSystemDataset(*a, **k), self._tracer)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def install(tracer: Tracer, reader) -> callable:
    """Wrap the serving tier's storage, decode and planner calls for
    ``reader``; returns the function that undoes it."""
    from searchengine_spark.query import boolean, serve

    undo = []
    for name in _DECODERS:
        fn = getattr(serve, name, None)
        if fn is not None:
            setattr(serve, name, tracer.wrap("varbyte.decode", fn, lambda _o, n=name: {"fn": n}))
            undo.append((serve, name, fn))
    undo.append((serve, "ds", serve.ds))
    serve.ds = _TracedDatasetModule(serve.ds, tracer)
    for name in _READERS:
        d = getattr(reader, name, None)
        if d is not None:
            setattr(reader, name, _TracedDataset(d, tracer))
            undo.append((reader, name, d))
    undo.append((boolean.BooleanPlanner, "execute", boolean.BooleanPlanner.execute))
    boolean.BooleanPlanner.execute = tracer.wrap("boolean.plan", boolean.BooleanPlanner.execute)

    def uninstall() -> None:
        for obj, name, orig in reversed(undo):
            setattr(obj, name, orig)

    return uninstall


def layer_summary(tracer: Tracer, kinds: dict[int, str]) -> dict[tuple[str, str], dict[str, float]]:
    """Per op kind and layer: total self seconds, span count, bytes, and
    docs-column decodes (one per posting block row read)."""
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for name, op, self_s, attrs in tracer.self_times():
        if op is None:
            continue
        agg = out[(kinds[op], name)]
        agg["self_s"] += self_s
        agg["n"] += 1
        agg["bytes"] += attrs.get("bytes", 0)
        agg["blocks"] += attrs.get("fn") == "decode_sorted"
    return out


def stage_metrics(spark, group: str, wall_s: float, cores: int) -> dict[str, float]:
    """Sum the task metrics of every stage of every job in ``group``, read
    from Spark's status store (works with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    jvm = sc._jvm
    # Scala default arguments do not cross py4j: pass all five
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    run_ms = cpu_ns = gc_ms = shuffle_b = spill_b = tasks = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids:
            continue
        run_ms += s.executorRunTime()
        cpu_ns += s.executorCpuTime()
        gc_ms += s.jvmGcTime()
        shuffle_b += s.shuffleWriteBytes()
        spill_b += s.memoryBytesSpilled() + s.diskBytesSpilled()
        tasks += s.numTasks()
    return {
        "cpu_s": cpu_ns / 1e9,
        "gc_s": gc_ms / 1e3,
        "shuffle_write_mb": shuffle_b / 2**20,
        "spill_mb": spill_b / 2**20,
        "tasks": tasks,
        "busy_frac": run_ms / 1e3 / (wall_s * cores),
    }
