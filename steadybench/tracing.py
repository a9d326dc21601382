"""Spans around the engine's public functions, and the per-op fold of
Spark's JSON event log.

Spans live in memory (name, op, start, end, parent) and are folded when
the run ends.  A layer's self time is its span minus its child spans.
Wrapping replaces a function in every engine module that binds it, so
calls made from inside the query plans are recorded too.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import sys
import time
from collections import Counter, defaultdict

PACKAGE = "content_analytics_etl_spark"
# job groups the client sets: per op (``op:<id>``) and for its own untimed work
CLIENT_GROUPS = ("op:", "bench:")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, op, start, end, parent index]
        self.op: str | None = None
        self._stack: list[int] = []
        self.enabled = True

    def wrap(self, name: str, fn):
        """``fn`` recording a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = [name, self.op, time.perf_counter(), None,
                    self._stack[-1] if self._stack else None]
            self._stack.append(len(self.spans))
            self.spans.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span[3] = time.perf_counter()

        return traced

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the client."""
        i = len(self.spans)
        self.spans.append([name, self.op, time.perf_counter(), None,
                           self._stack[-1] if self._stack else None])
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i][3] = time.perf_counter()

    def self_seconds(self) -> dict[tuple[str, str | None], float]:
        """{(span name, op): seconds not covered by child spans}."""
        child = [0.0] * len(self.spans)
        for name, op, t0, t1, parent in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[tuple[str, str | None], float] = defaultdict(float)
        for i, (name, op, t0, t1, _) in enumerate(self.spans):
            out[(name, op)] += (t1 - t0) - child[i]
        return out

    def total_seconds(self) -> dict[tuple[str, str | None], float]:
        out: dict[tuple[str, str | None], float] = defaultdict(float)
        for name, op, t0, t1, _ in self.spans:
            out[(name, op)] += t1 - t0
        return out


def patch_everywhere(original, replacement) -> int:
    """Rebind ``original`` to ``replacement`` in every loaded engine
    module; returns how many bindings changed."""
    n = 0
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


# --- Spark event log --------------------------------------------------------

def _metric_ids(plan: dict, rows: set, data: set, scanned: set) -> None:
    """Accumulator ids of the Python nodes' output rows and input bytes,
    and of the file scans' bytes."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "data sent to Python workers" in metrics:
        data.add(metrics["data sent to Python workers"])
        if "number of output rows" in metrics:
            rows.add(metrics["number of output rows"])
    if "size of files read" in metrics:
        scanned.add(metrics["size of files read"])
    for c in plan.get("children", []):
        _metric_ids(c, rows, data, scanned)


def fold_event_log(path: str, ops: list[tuple[str, str, float, float]]) -> dict[str, dict]:
    """Fold the event log into one record per op.

    ``ops`` holds ``(op id, job group, start, end)`` with wall-clock
    seconds.  A job belongs to the op whose group it carries; a job whose
    group the client did not set (streaming micro-batches run under the
    stream's own group) belongs to the op whose interval holds its
    submission.  Jobs of the client's other groups (``CLIENT_GROUPS``) are
    its untimed work and belong to no op.  The bytes of the files a scan
    reads (its driver-side "size of files read" metric) belong to the op
    whose interval holds the start of the scan's SQL execution."""
    by_group = {g: op for op, g, _, _ in ops}
    windows = sorted((t0 * 1000.0, t1 * 1000.0, op) for op, _, t0, t1 in ops)
    stage_op: dict[int, str] = {}
    rec: dict[str, Counter] = defaultdict(Counter)
    stage_tasks: dict[tuple[str, int], list[float]] = defaultdict(list)
    py_rows: set[int] = set()
    py_data: set[int] = set()
    scanned: set[int] = set()
    exec_op: dict[int, str | None] = {}

    def op_at(t_ms: float) -> str | None:
        return next((o for a, b, o in windows if a <= t_ms <= b), None)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                op = by_group.get(group)
                if op is None and not group.startswith(CLIENT_GROUPS):
                    op = op_at(ev["Submission Time"])
                if op is None:
                    continue
                rec[op]["jobs"] += 1
                for s in ev["Stage IDs"]:
                    stage_op.setdefault(s, op)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                if kind.endswith("SQLExecutionStart"):
                    exec_op[ev["executionId"]] = op_at(ev["time"])
                _metric_ids(ev["sparkPlanInfo"], py_rows, py_data, scanned)
            elif kind.endswith("DriverAccumUpdates"):
                op = exec_op.get(ev["executionId"])
                if op is not None:
                    rec[op]["input_bytes"] += sum(v for acc, v in ev["accumUpdates"] if acc in scanned)
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if op is None or not m:
                    continue
                r = rec[op]
                r["tasks"] += 1
                run_ms = m["Executor Run Time"]
                r["task_run_ms"] += run_ms
                r["task_cpu_ns"] += m["Executor CPU Time"]
                r["gc_ms"] += m["JVM GC Time"]
                r["spill_bytes"] += m["Disk Bytes Spilled"]
                sr = m.get("Shuffle Read Metrics") or {}
                r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                stage_tasks[(op, ev["Stage ID"])].append(run_ms)
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("ID") in py_data:
                        r["python_bytes"] += int(acc.get("Update") or 0)
                    elif acc.get("ID") in py_rows:
                        r["python_rows"] += int(acc.get("Update") or 0)
    out = {op: dict(c) for op, c in rec.items()}
    for (op, _stage), runs in stage_tasks.items():
        r = out[op]
        r["stages"] = r.get("stages", 0) + 1
        if len(runs) >= 2:
            skew = max(runs) / max(statistics.median(runs), 1.0)
            r["task_skew"] = max(r.get("task_skew", 1.0), skew)
    return out
