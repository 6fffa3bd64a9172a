"""Spans around the program's public entry points, recorded from outside.

``Tracer.install`` wraps the layer entry points (class and module
attributes) with span recorders. Spans live in memory (name, layer, start,
end, parent, attributes) and are written out once, at exit. With
``full=False`` only the spans the end-to-end metrics are computed from are
recorded (the benchmark's own phases and ``foreachBatch`` commits), so an
untraced run pays for a handful of clock reads per batch and nothing else.

Spark engine counters come from the event log a traced run enables at
launch (``event_log_conf``); ``spark_counters`` attributes every job to the
innermost span that was open when the job was submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    phase: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, full: bool):
        self.full = full
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[Span] = []
        # foreachBatch bodies run on the py4j callback thread while the
        # main thread waits in awaitTermination: one shared stack, guarded.
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), name, layer, time.time(), parent, self.phase)
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(s)

    # -- wrapping -----------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, layer: str, on_exit=None):
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if on_exit is not None:
                    on_exit(s, args, kwargs)
                return out

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, fn))

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        from blockchain_etl_spark.operators import activity, cdc_view, merge
        from blockchain_etl_spark.streaming import ingest

        BI = ingest.BlockIngest
        self._wrap(BI, "process_batch", "ingest.process_batch", "ingest")
        if not self.full:
            return
        self._wrap(BI, "run_blockfiles_stream", "ingest.run_blockfiles_stream", "sources")
        self._wrap(BI, "run_stream", "ingest.run_stream", "sources")
        self._wrap(BI, "compact", "ingest.compact", "ingest")
        self._wrap(BI, "read_table", "ingest.read_table", "ingest")
        self._wrap(BI, "read_inventory", "ingest.read_inventory", "ingest")
        self._wrap(BI, "stats_inventory", "ingest.stats_inventory", "ingest")
        self._wrap(ingest, "derive_tables", "ingest.derive_tables", "ingest")
        self._wrap(
            merge.ParquetMergeTarget, "merge_with", "merge.merge_with", "merge",
            on_exit=lambda s, a, k: s.attrs.update(target=os.path.basename(a[0].path)),
        )
        self._wrap(cdc_view.ChangelogAggregateView, "catch_up", "cdc.catch_up", "cdc")
        self._wrap(activity, "actor_activity", "activity.actor_activity", "activity")
        self._wrap(DataFrameWriter, "parquet", "write.parquet", "write", on_exit=_record_write)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- queries over the recorded spans -------------------------------
    def named(self, name: str, phase: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (phase is None or s.phase == phase)]

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the union of the child spans' intervals."""
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            if cur_hi is None or c.start > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = c.start, c.end
            else:
                cur_hi = max(cur_hi, c.end)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s.end - s.start) - covered

    def descendants(self, s: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], list(kids.get(s.id, []))
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(kids.get(c.id, []))
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _record_write(span: Span, args, kwargs) -> None:
    """After a parquet write: where it went, and the files, bytes and rows
    it left there (row counts from the footers, no Spark job)."""
    import pyarrow.parquet as pq

    path = args[1] if len(args) > 1 else kwargs.get("path")
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    span.attrs.update(
        path=path,
        files=len(files),
        bytes=sum(os.path.getsize(p) for p in files),
        rows=sum(pq.read_metadata(p).num_rows for p in files),
    )


# -- Spark engine counters ---------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "executor_run_s",
    "jvm_gc_s",
    "files_read",
)


def spark_counters(log_dir: str, spans: list[Span]) -> dict[int, dict[str, float]]:
    """Parse the run's event log; return counters per span id (the
    innermost span open at each job's submission; ``-1`` for jobs outside
    every span)."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not logs:
        return {}
    stage_job: dict[int, int] = {}
    job_span: dict[int, int] = {}
    out: dict[int, dict[str, float]] = {}
    exec_start: dict[int, float] = {}
    files_metric: set[int] = set()
    ordered = sorted(spans, key=lambda s: s.start)

    def owner(ts: float) -> int:
        best = None
        for s in ordered:
            if s.start > ts:
                break
            if s.end >= ts and (best is None or s.start >= best.start):
                best = s
        return best.id if best else -1

    def bump(span_id: int, key: str, v: float) -> None:
        d = out.setdefault(span_id, dict.fromkeys(COUNTERS, 0.0))
        d[key] += v

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", []):
            if m.get("name") == "number of files read":
                files_metric.add(m["accumulatorId"])
        for c in node.get("children", []):
            plan_metrics(c)

    with open(max(logs, key=os.path.getsize)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                sid = owner(ev["Submission Time"] / 1000.0)
                job_span[ev["Job ID"]] = sid
                bump(sid, "jobs", 1)
                for st in ev.get("Stage IDs", []):
                    stage_job[st] = ev["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    bump(job_span[jid], "stages", 1)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                if jid is None:
                    continue
                sid = job_span[jid]
                sr = m.get("Shuffle Read Metrics", {})
                bump(sid, "tasks", 1)
                bump(sid, "shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                bump(sid, "shuffle_write_bytes", m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                bump(sid, "input_bytes", m.get("Input Metrics", {}).get("Bytes Read", 0))
                bump(sid, "output_bytes", m.get("Output Metrics", {}).get("Bytes Written", 0))
                bump(sid, "executor_run_s", m.get("Executor Run Time", 0) / 1000.0)
                bump(sid, "jvm_gc_s", m.get("JVM GC Time", 0) / 1000.0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_start[ev["executionId"]] = ev["time"] / 1000.0
                plan_metrics(ev.get("sparkPlanInfo", {}))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                ts = exec_start.get(ev["executionId"])
                for acc_id, v in ev.get("accumUpdates", []):
                    if acc_id in files_metric and ts is not None:
                        bump(owner(ts), "files_read", v)
    return out
