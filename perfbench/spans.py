"""In-memory spans and the Spark-side readings the traced run takes.

Spans are recorded by the benchmark around its calls into each layer; the
program itself carries no instrumentation. A span is (name, start, end,
parent, op): wall-clock epoch seconds, the index of the span that caused it,
and the operation it belongs to. They stay in memory and are written to a
JSON file once the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# SQL metric name -> the execute-layer metric it feeds. Timing metrics are
# converted by their declared type ("timing" is ms, "nsTiming" is ns).
SQL_METRICS = {
    "shuffleBytesWritten": "execute.shuffle_write_bytes",
    "shuffleRecordsWritten": "execute.shuffle_records",
    "spillSize": "execute.spill_bytes",
    "scanTime": "execute.scan_s",
    "aggTime": "execute.agg_s",
    "sortTime": "execute.sort_s",
    "collectTime": "execute.broadcast_collect_s",
    "pythonBootTime": "execute.python_boot_s",
    "pythonTotalTime": "execute.python_eval_s",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

# Physical nodes whose subtree is measured elsewhere in the same plan.
_REUSED = ("ReusedExchangeExec", "ReusedSubqueryExec")

STREAM_DURATIONS = {
    "triggerExecution": "streaming.batch_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "queryPlanning": "streaming.query_planning_ms",
}


class Tracer:
    """Spans of one run, kept in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = self.add(name, time.time(), None)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None) -> int:
        """Record a span; its parent defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "op": self.op})
        return len(self.spans) - 1

    def duration(self, idx: int) -> float:
        return self.spans[idx]["end"] - self.spans[idx]["start"]

    def total(self, name: str, since: int = 0) -> float:
        """Summed duration of the spans called ``name`` from index ``since``."""
        return sum(s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name)

    def count(self, name: str, since: int = 0) -> int:
        return sum(s["name"] == name for s in self.spans[since:])

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Seconds per span name not covered by that span's direct children,
        over the spans recorded from index ``since`` on."""
        covered: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans[since:]:
            if s["parent"] is not None and s["parent"] >= since:
                covered.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans[since:], start=since):
            busy, cursor = 0.0, s["start"]
            for a, b in sorted(covered.get(i, [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    busy += b - a
                    cursor = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - busy
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def _scala_items(scala_map):
    it = scala_map.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def _scala_list(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_phases(qe) -> dict[str, tuple[float, float]]:
    """Catalyst phase -> (start, end) epoch seconds, from the query's
    planning tracker (phases: analysis, optimization, planning)."""
    return {name: (p.startTimeMs() / 1e3, p.endTimeMs() / 1e3)
            for name, p in _scala_items(qe.tracker().phases())}


def plan_metrics(qe) -> dict[str, float]:
    """Sum the SQL metrics in ``SQL_METRICS`` over the final physical plan,
    descending through adaptive query stages and subqueries."""
    out = dict.fromkeys(SQL_METRICS.values(), 0.0)
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind in _REUSED:
            continue
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        for name, metric in _scala_items(node.metrics()):
            key = SQL_METRICS.get(name)
            if key is not None:
                out[key] += metric.value() * _TIME_SCALE.get(metric.metricType(), 1.0)
        todo.extend(_scala_list(node.children()))
        todo.extend(_scala_list(node.subqueries()))
    return out


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) launched under a job group, from the status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def make_stream_listener(sink: list):
    """A StreamingQueryListener that appends each progress report, as a
    dict, to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "timestamp": p.timestamp,
                "durationMs": dict(p.durationMs or {}),
                "state": [(s.commitTimeMs, s.numRowsTotal, s.memoryUsedBytes)
                          for s in (p.stateOperators or [])],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming figures from progress reports: batch count, summed
    phase durations and state commit time, and the peak state size (rows and
    memory) over all reports."""
    out = dict.fromkeys(["streaming.batches", "streaming.state_commit_ms",
                         "streaming.state_rows_total",
                         "streaming.state_memory_bytes",
                         *STREAM_DURATIONS.values()], 0.0)
    for p in progress:
        out["streaming.batches"] += 1
        for phase, key in STREAM_DURATIONS.items():
            out[key] += p["durationMs"].get(phase, 0)
        for commit_ms, rows, mem in p["state"]:
            out["streaming.state_commit_ms"] += commit_ms
            out["streaming.state_rows_total"] = max(out["streaming.state_rows_total"], rows)
            out["streaming.state_memory_bytes"] = max(out["streaming.state_memory_bytes"], mem)
    return out
