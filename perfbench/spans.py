"""In-memory spans around the benchmark's calls into each layer.

A span records (name, op id, start, end, parent). While tracing is on,
every span also tags the Spark jobs its calls launch with a job group
named after the span, so ``statusTracker`` can attribute jobs, stages
and tasks to the layer that caused them. Job groups are per thread, so
each span restores the group it found; spans opened inside a
``foreachBatch`` callback tag the streaming query's thread.

With tracing off every span is a no-op: the untraced run pays nothing.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int):
        if not self.enabled:
            yield None
            return
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "op": op,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(),
                "end": None,
            }
            rec["group"] = f"{name}#{op}#{rec['id']}"
            self.spans.append(rec)
            self._stack.append(rec["id"])
        prev = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty(_JOB_GROUP, prev)
            with self._lock:
                self._stack.pop()

    def count_jobs(self, op: int) -> None:
        """Attach job/stage/task counts to every span of ``op``. Call
        right after the op: the status store keeps recent jobs only."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            if rec["op"] != op or "jobs" in rec:
                continue
            jobs = stages = tasks = failed = 0
            for jid in st.getJobIdsForGroup(rec["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    # skipped stages (shuffle output reused) ran nothing
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks, tasks_failed=failed)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        out = {}
        for rec in self.spans:
            covered = 0.0
            last_end = rec["start"]
            for ch in sorted(children.get(rec["id"], []), key=lambda r: r["start"]):
                lo = max(ch["start"], last_end)
                hi = min(ch["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            out[rec["id"]] = rec["end"] - rec["start"] - covered
        return out

    def per_op(self, name: str, key: str = "self_s") -> list[float]:
        """One value per traced op: ``key`` (self_s, wall_s or a job
        count) summed over the op's spans named ``name`` or, for a layer
        name such as "sinks", over every span of that layer."""
        selfs = self.self_times()
        acc: dict[int, float] = {}
        for rec in self.spans:
            if rec["end"] is None or not (
                rec["name"] == name or rec["name"].startswith(name + ".")
            ):
                continue
            if key == "self_s":
                v = selfs[rec["id"]]
            elif key == "wall_s":
                v = rec["end"] - rec["start"]
            else:
                v = rec.get(key, 0)
            acc[rec["op"]] = acc.get(rec["op"], 0.0) + v
        return [acc[k] for k in sorted(acc)]

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = min((r["start"] for r in self.spans), default=0.0)
        spans = [
            {
                **{k: v for k, v in rec.items() if k not in ("start", "end")},
                "start_s": round(rec["start"] - t0, 6),
                "end_s": round(rec["end"] - t0, 6),
                "self_s": round(selfs[rec["id"]], 6),
            }
            for rec in self.spans
            if rec["end"] is not None
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)


def pair_metrics(evaluated: list, above: list) -> dict[str, float]:
    """The windfield layer's work counts, one (evaluated, above) per op."""
    med = statistics.median
    return {
        "windfield.pairs_evaluated": med(evaluated) if evaluated else 0,
        "windfield.pairs_above_threshold": med(above) if above else 0,
        "windfield.useful_ratio": med(
            [a / e for a, e in zip(above, evaluated) if e] or [0]
        ),
    }


def plan_windfield_rows(df) -> tuple[int, int]:
    """(pairs evaluated, pairs above threshold) from the EXECUTED plan of
    ``df`` after its action ran: the output rows of the grid-pruned pair
    join under the wind explode, and of the ``wind_ms > threshold``
    filter — read the way shuffle_audit.py reads SQL metrics."""

    def walk(p):
        cls = p.getClass().getSimpleName()
        if "AdaptiveSparkPlan" in cls:
            p = p.executedPlan()
            cls = p.getClass().getSimpleName()
        yield p, cls
        if "QueryStage" in cls:
            yield from walk(p.plan())
        if cls == "InMemoryTableScanExec":
            yield from walk(p.relation().cachedPlan())
        ch = p.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    def rows(node) -> int:
        m = node.metrics()
        return int(m.apply("numOutputRows").value()) if m.contains("numOutputRows") else 0

    plan = df._jdf.queryExecution().executedPlan()
    for node, cls in walk(plan):
        if cls == "FilterExec" and "wind_ms" in node.condition().toString():
            above = rows(node)
            for sub, sub_cls in walk(node):
                if "Join" in sub_cls:
                    return rows(sub), above
            return 0, above
    return 0, 0
