"""Tracing for the traced run: spans kept in memory, and Spark's own event
log and streaming progress turned into per-op layer figures.

Spans are recorded from the benchmark's side of each call into the package
(``name``, ``start``, ``end``, ``parent``, ``op``); a layer's self time is
its spans' duration minus the part covered by their child spans.  The event
log is parsed with ``tools/profile_query.parse_event_log`` for the job ->
stage structure, plus one pass here for the per-stage task metrics that
parser does not keep (executor run time, bytes read, records read, shuffle
bytes) and the stage start/end times the fixed-overhead share needs.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call free of
    bookkeeping so the untraced timed loop carries no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "op": self.op, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span measured elsewhere (e.g. a streaming progress phase)."""
        idx = len(self.spans)
        self.spans.append(
            {"id": idx, "name": name, "parent": parent, "op": self.op, "start": start, "end": end}
        )
        return idx

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name, in ms."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0) * 1000.0
        return {k: round(v, 3) for k, v in sorted(out.items())}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.input.bytesRead": "scan_bytes",
    "internal.metrics.input.recordsRead": "scan_rows",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_bytes",
}


def _stage_metrics(log_dir: str) -> dict[int, dict]:
    """Stage id -> summed task metrics and submission/completion times."""
    stages: dict[int, dict] = {}
    for root, _dirs, names in os.walk(log_dir):
        for f in names:
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    if '"SparkListenerStageCompleted"' not in line:
                        continue
                    info = json.loads(line)["Stage Info"]
                    m = {v: 0 for v in _ACC.values()}
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key is not None:
                            m[key] += int(acc.get("Value", 0))
                    m["t0"] = info.get("Submission Time", 0)
                    m["t1"] = info.get("Completion Time", m["t0"])
                    stages[info["Stage ID"]] = m
    return stages


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_stats(log_dir: str, op_of_job) -> dict[str, dict]:
    """Per-op totals from the event log.  ``op_of_job(desc)`` maps a job's
    description to an op key (or None to skip the job)."""
    from tools.profile_query import parse_event_log

    stage_m = _stage_metrics(log_dir)
    ops: dict[str, dict] = {}
    for job in parse_event_log(log_dir):
        key = op_of_job(job["desc"] or "")
        if key is None:
            continue
        o = ops.setdefault(
            key,
            {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0, "scan_bytes": 0,
             "scan_rows": 0, "shuffle_bytes": 0, "_iv": []},
        )
        o["jobs"] += 1
        for st in job["stages"]:
            o["stages"] += 1
            o["tasks"] += st["tasks"]
            m = stage_m.get(st["stage"])
            if m is None:
                continue
            for k in ("executor_run_ms", "scan_bytes", "scan_rows", "shuffle_bytes"):
                o[k] += m[k]
            o["_iv"].append((m["t0"], m["t1"]))
    for o in ops.values():
        o["stage_busy_ms"] = _union_ms(o.pop("_iv"))
    return ops


_RUN_RE = re.compile(r"runId = ([0-9a-f-]+)")
_BATCH_RE = re.compile(r"batch = (\d+)")


def stream_batch(desc: str, run_id: str) -> str | None:
    """``batch<N>`` for a job of micro-batch N of the query run ``run_id``
    (Structured Streaming sets that description on every batch job)."""
    run = _RUN_RE.search(desc)
    batch = _BATCH_RE.search(desc)
    if run is None or batch is None or run.group(1) != run_id:
        return None
    return f"batch{batch.group(1)}"


def json_parses(plan: str) -> int:
    """``get_json_object`` calls in a physical plan string."""
    return plan.count("get_json_object(")


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def p50(xs):
    return statistics.median(xs) if xs else 0.0
