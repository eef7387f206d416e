"""Spans around the benchmark's calls into the package, and the parsers
for what the traced run records on the Spark side.

A span records its name, start, end, parent and run id.  Spans stay in
memory and are written out once, when the run ends.  With tracing off a
``Tracer`` records nothing and ``span`` costs one attribute test.

Each span also sets the Spark job description to ``<run>::<span>``, so
the event-log parser can attribute Spark jobs to the span that caused
them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {s.id: s.dur - _covered(kids.get(s.id, [])) for s in spans}


EXTRA = "trace.extra"  # label of trace-only work (counts, disk walks)
# labels of unmeasured sections; the event-log totals leave their jobs out
UNMEASURED = (EXTRA, "setup", "check")


class Tracer:
    """Records spans and counts when ``enabled``.  ``overhead_s`` is the
    time the tracer itself took: span bookkeeping (including the job
    description round trips to the JVM) and the trace-only work run
    under ``unmeasured(EXTRA)``."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0
        self._stack: list[tuple[int, str]] = []  # open spans: (id, name)
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        sid, self._next_id = self._next_id, self._next_id + 1
        parent = self._stack[-1][0] if self._stack else None
        self._describe(name)
        self._stack.append((sid, name))
        t0 = time.perf_counter()
        self.overhead_s += t0 - b0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent, self.run_id))
            self._describe(self._stack[-1][1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def unmeasured(self, label: str = EXTRA):
        """An unmeasured section (``UNMEASURED``): its Spark jobs carry
        the label as description, so the event-log totals leave them
        out.  Time under ``EXTRA`` is trace-only work and counts as
        tracer overhead."""
        t0 = time.perf_counter()
        self._describe(label)
        try:
            yield
        finally:
            self._describe(self._stack[-1][1] if self._stack else None)
            if label == EXTRA:
                self.overhead_s += time.perf_counter() - t0

    def _describe(self, name: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(
                f"{self.run_id}::{name}" if name else None
            )

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def total_ms(self, name: str) -> float:
        return 1000.0 * sum(s.dur for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self": st[s.id]}) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _read_event_log(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), errors="replace") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue
    return events


def _unmeasured(props: dict, query_ids) -> bool:
    """Jobs outside every span (the session's first job), labelled by
    ``Tracer.unmeasured``, or run by a streaming query not in
    ``query_ids`` (the warm-up drains).  A streaming query's jobs carry
    its id, and a batch description set by Spark, not a span's."""
    qid = props.get("sql.streaming.queryId")
    if qid is not None:
        return qid not in query_ids
    desc = props.get("spark.job.description") or ""
    return not desc or desc.rsplit("::", 1)[-1] in UNMEASURED


def parse_event_log(log_dir: str, wall_s: float, cores: int,
                    query_ids=()) -> dict[str, float]:
    """Engine totals over the measured sections: job/stage/task counts,
    the union of SQL-execution spans, the driver gap (``wall_s``, the
    measured wall without the tracer's own time, minus that union), core
    utilisation, shuffle and spill bytes, executor CPU and GC.
    ``query_ids`` are the measured streaming queries."""
    events = _read_event_log(log_dir)
    # jobs of unmeasured sections, their stages and SQL executions are
    # left out of every total
    skip_stages: set[int] = set()
    skip_execs: set[int] = set()
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if _unmeasured(props, query_ids):
                skip_stages.update(e.get("Stage IDs") or [])
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    skip_execs.add(int(eid))
    ex_start: dict[int, int] = {}
    spans: list[tuple[float, float]] = []
    jobs = stages = tasks = 0
    run_ms = cpu_ns = gc_ms = 0.0
    sh_r = sh_w = spill = 0
    for e in events:
        ev = e.get("Event", "")
        if ev.endswith("SQLExecutionStart"):
            ex_start[e["executionId"]] = e["time"]
        elif ev.endswith("SQLExecutionEnd"):
            t0 = ex_start.pop(e["executionId"], None)
            if t0 is not None and e["executionId"] not in skip_execs:
                spans.append((t0 / 1000.0, e["time"] / 1000.0))
        elif ev == "SparkListenerJobStart":
            jobs += not _unmeasured(e.get("Properties") or {}, query_ids)
        elif ev == "SparkListenerStageCompleted":
            stages += (e.get("Stage Info") or {}).get("Stage ID") not in skip_stages
        elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") not in skip_stages:
            tasks += 1
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            run_ms += float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            cpu_ns += float(m.get("Executor CPU Time", 0))
            gc_ms += float(m.get("JVM GC Time", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sh_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sh_w += sw.get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    exec_span = _covered(spans)
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.exec_span_s": exec_span,
        "spark.driver_gap_s": max(0.0, wall_s - exec_span),
        "spark.core_util": (run_ms / 1000.0) / (exec_span * cores) if exec_span else 0.0,
        "spark.shuffle_read_mb": sh_r / mb,
        "spark.shuffle_write_mb": sh_w / mb,
        "spark.spill_mb": spill / mb,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1000.0,
    }


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------

PHASES = ("queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")


def make_progress_listener(path: str):
    """A ``StreamingQueryListener`` appending each progress event's JSON
    to ``path``; built lazily so importing this module needs no Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _ToFile(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with open(path, "a") as fh:
                fh.write(event.progress.json.replace("\n", " ") + "\n")

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _ToFile()


def parse_progress(path: str, query_ids) -> dict[str, float]:
    """Per-phase totals (ms), the batch count, the input rows and the
    summed ``triggerExecution`` over every progress event that ran a
    batch of one of ``query_ids``.  Drains on other checkpoints (the
    warm-up's) carry other ids and are left out."""
    out = {f"ingest.{_snake(p)}_ms": 0.0 for p in PHASES}
    out.update({"ingest.batches": 0, "ingest.trigger_ms": 0.0, "ingest.input_rows": 0})
    if not os.path.exists(path):
        return out
    with open(path) as fh:
        for line in fh:
            try:
                p = json.loads(line)
            except ValueError:
                continue
            d = p.get("durationMs") or {}
            if p.get("id") not in query_ids:
                continue
            if not p.get("numInputRows") and not d.get("addBatch"):
                continue  # idle poll, no batch ran
            out["ingest.batches"] += 1
            out["ingest.input_rows"] += int(p.get("numInputRows") or 0)
            out["ingest.trigger_ms"] += float(d.get("triggerExecution", 0))
            for ph in PHASES:
                out[f"ingest.{_snake(ph)}_ms"] += float(d.get(ph, 0))
    return out


def _snake(name: str) -> str:
    return "".join("_" + c.lower() if c.isupper() else c for c in name)
