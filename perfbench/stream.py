"""``listing_stream``: the open-loop consumer.

Message files (JSON lines, one message per line, as ``kafka_sink``
emits) fall due on a fixed schedule, independent of how fast the
consumer is.  The schedule is the reference consumer's poll: at most
100 messages per 5 s poll (``max_records=100``, ``timeout_ms=5000``,
Kafka_GSMLSConsumer.py:163, tabulated in BASELINE.md), so one file of
100 messages falls due every 5 s.  A warm drain takes 2-4 s, so each
drain commits one file unless the consumer falls behind, and
every measured drain does the same work.  A single process runs the
loop: it lands (renames into the watched directory) every file whose
due time has passed, then drains with ``readStream.text`` ->
``json_quarantine`` -> ``clean_res`` -> ``stream_to_versioned``, always
on one checkpoint.  A file's latency runs from its due time to the end
of the drain that committed it, so a slow drain delays every file that
fell due during it.  Malformed messages are kept in the table with
``quarantined = true``; the check counts them and verifies that every
valid message landed exactly once.
"""

from __future__ import annotations

import json
import os
import time

from . import listings
from .batch import CommitCounter
from .common import Checker, CpuMeter, jvm_pid, median, tail

INTERVAL_S = 5.0  # one file every INTERVAL_S
ROWS_PER_FILE = 100  # one poll of the reference consumer
MAX_FILES = 12  # enough for a 60 s schedule
# the first drain of a session takes 10-14 s, the second 4-7 s, later
# ones 3-4 s; after one warm-up drain the measured drains were still
# falling and the latency median spread by 0.28 across runs
WARM_DRAINS = 2


def prepare(seed: int, out_dir: str) -> listings.StreamData:
    data = listings.generate_stream(seed, MAX_FILES, ROWS_PER_FILE)
    _write_files(data, os.path.join(out_dir, "pending"))
    return data


def _write_files(data: listings.StreamData, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for k, payload in enumerate(data.files):
        with open(os.path.join(out_dir, f"msg-{k:05d}.json"), "wb") as fh:
            fh.write(payload)


class Consumer:
    """The drain: source directory, checkpoint and table."""

    def __init__(self, spark, tracer, root: str):
        self.spark, self.tr = spark, tracer
        self.src = os.path.join(root, "landing")
        self.ckpt = os.path.join(root, "checkpoint")
        self.table = os.path.join(root, "table")
        os.makedirs(self.src)
        self.cols = listings.bronze_schema().fieldNames()
        # backticked DDL: names such as SP/LP% do not parse unquoted
        self.ddl = "struct<" + ",".join(f"`{c}`:string" for c in self.cols) + ">"

    def drain(self) -> None:
        from gsmls_analysis_spark.operators import pipelines
        from gsmls_analysis_spark.streaming import ingest
        from pyspark.sql import functions as F

        raw = self.spark.readStream.text(self.src)
        with self.tr.span("ingest.json_quarantine"):
            parsed = ingest.json_quarantine(raw, "value", self.ddl)
        flat = parsed.select(
            "quarantined", *[F.col("__parsed").getField(c).alias(c) for c in self.cols]
        )
        with self.tr.span("pipelines.plan"):
            clean = pipelines.clean_res(flat)
        with self.tr.span("ingest.stream_to_versioned"):
            ingest.stream_to_versioned(clean, self.table, checkpoint=self.ckpt)

    def query_id(self) -> str:
        """The id Spark keeps in the checkpoint; every progress event of a
        drain on this checkpoint carries it."""
        with open(os.path.join(self.ckpt, "metadata")) as fh:
            return json.load(fh)["id"]

    def committed(self) -> tuple[list[str], int]:
        """(ids of valid rows, quarantined row count) in the table."""
        from gsmls_analysis_spark.sources import versioned as V
        from pyspark.sql import functions as F

        df = V.versioned_read(self.spark, self.table)
        ids = [r[0] for r in df.filter(~F.col("quarantined"))
               .select(listings.ID_COL).collect()]
        bad = df.filter(F.col("quarantined")).count()
        return ids, bad


def check_exactly_once(chk: Checker, ids: list[str], bad: int,
                       want_ids: set[str], want_bad: int) -> None:
    """Every valid message committed exactly once; malformed ones
    quarantined, not dropped."""
    chk.expect("committed rows", len(ids), len(want_ids))
    chk.expect("duplicate rows", len(ids) - len(set(ids)), 0)
    chk.expect("missing rows", len(want_ids - set(ids)), 0)
    chk.expect("unexpected rows", len(set(ids) - want_ids), 0)
    chk.expect("quarantined rows", bad, want_bad)


def _warm(spark, work: str, seed: int) -> None:
    """``WARM_DRAINS`` untraced drains, one file each, on a separate
    small input and checkpoint."""
    from .trace import Tracer

    data = listings.generate_stream(seed + 1_000_003, WARM_DRAINS, ROWS_PER_FILE)
    c = Consumer(spark, Tracer("warm", False), os.path.join(work, "warm"))
    for k, payload in enumerate(data.files):
        with open(os.path.join(c.src, f"msg-{k:05d}.json"), "wb") as fh:
            fh.write(payload)
        c.drain()


class OpenLoop:
    """The schedule and its accounting, separate from Spark so that it
    can be driven by a fake drain: file k falls due at
    ``t0 + k * interval``."""

    def __init__(self, n_files: int, interval: float, land, drain,
                 now=time.monotonic, sleep=time.sleep):
        self.n, self.interval = n_files, interval
        self.land, self.drain, self.now, self.sleep = land, drain, now, sleep
        self.latency: list[float] = []  # per file, due -> commit
        self.late: list[float] = []  # per file, due -> landed
        self.backlog_max = 0
        self.drain_walls: list[float] = []
        self.first_due = self.last_commit = 0.0

    def run(self) -> None:
        t0 = self.now()
        due = [t0 + k * self.interval for k in range(self.n)]
        self.first_due = due[0]
        nxt = 0
        while nxt < self.n:
            now = self.now()
            if due[nxt] > now:
                self.sleep(min(due[nxt] - now, 0.05))
                continue
            pending: list[float] = []
            while nxt < self.n and due[nxt] <= self.now():
                self.land(nxt)
                self.late.append(self.now() - due[nxt])
                pending.append(due[nxt])
                nxt += 1
            self.backlog_max = max(self.backlog_max, len(pending))
            d0 = self.now()
            self.drain()
            end = self.now()
            self.drain_walls.append(end - d0)
            self.latency.extend(end - t for t in pending)
            self.last_commit = end


def run(spark, tracer, work: str, data: listings.StreamData, seconds: float) -> dict:
    t0 = time.perf_counter()
    with tracer.unmeasured("setup"):
        _warm(spark, work, data.seed)
    warm_s = time.perf_counter() - t0
    c = Consumer(spark, tracer, os.path.join(work, "stream"))
    pending = os.path.join(work, "inputs", "pending")
    n_files = min(MAX_FILES, max(1, int(round(seconds / INTERVAL_S))))

    def land(k: int) -> None:
        os.rename(os.path.join(pending, f"msg-{k:05d}.json"),
                  os.path.join(c.src, f"msg-{k:05d}.json"))

    loop = OpenLoop(n_files, INTERVAL_S, land, c.drain)
    # per file: the JVM's JIT and GC work lands in whichever drain runs
    # when it happens, so the window's total is steadier than any drain
    loop_cpu = CpuMeter(jvm_pid(spark)).measure(loop.run)[1]

    chk = Checker()
    with tracer.unmeasured("check"):
        ids, bad = c.committed()
    want_ids = {i for f in data.ids[:n_files] for i in f}
    check_exactly_once(chk, ids, bad, want_ids, sum(data.malformed[:n_files]))
    # traced runs: the sink's commits, counted on disk once the loop is
    # over so that the disk walk stays out of every drain
    CommitCounter(tracer).record(c.table, "check")
    span = loop.last_commit - loop.first_due
    pct, tail_v = tail(loop.latency)
    return {
        "checks": chk,
        "warm_s": warm_s,
        "op_times": loop.latency,
        "op_cpu_s": loop_cpu / n_files,
        "rows": len(ids),
        "wall": span,
        "busy": sum(loop.drain_walls),
        "query_ids": [c.query_id()],
        "named": {
            "stream_latency_p50_s": (median(loop.latency), "s"),
            f"stream_latency_p{pct:.0f}_s": (tail_v, "s"),
            "stream_rows_per_s": (len(ids) / span, "rows/s"),
            "stream_files": (len(loop.latency), "files"),
            "stream_drain_p50_s": (median(loop.drain_walls), "s"),
            "stream_drain_max_s": (max(loop.drain_walls), "s"),
            "gen.late_s_max": (max(loop.late), "s"),
            "ingest.backlog_files_max": (loop.backlog_max, "files"),
        },
        "layer": {
            "gen.late_s_max": max(loop.late),
            "ingest.backlog_files_max": loop.backlog_max,
            "ingest.drains": len(loop.drain_walls),
            "ingest.drain_ms": 1000.0 * sum(loop.drain_walls),
            "ingest.quarantined_rows": bad,
            "pipelines.rows_out": len(ids) + bad,
        },
    }
