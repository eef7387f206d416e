"""Tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

from perfbench import batch, listings, metrics, stream
from perfbench.common import Checker, CpuMeter, tail
from perfbench.trace import Span, parse_event_log, parse_progress, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIZE = 400  # day-0 listings in the generator tests


def _digest(data: listings.BatchData) -> str:
    h = hashlib.sha256()
    for rows in [data.day0] + data.days:
        h.update(listings.to_json_lines(rows))
    return h.hexdigest()


def test_batch_generator_is_deterministic_per_seed():
    a = listings.generate_batch(7, SIZE, 3, batch.DAY_CHANGES)
    b = listings.generate_batch(7, SIZE, 3, batch.DAY_CHANGES)
    c = listings.generate_batch(8, SIZE, 3, batch.DAY_CHANGES)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert a.day_truth[2] == b.day_truth[2]


def test_stream_generator_is_deterministic_per_seed():
    a = listings.generate_stream(3, 4, 20)
    b = listings.generate_stream(3, 4, 20)
    assert a.files == b.files and a.ids == b.ids
    assert a.files != listings.generate_stream(4, 4, 20).files


def test_planted_ground_truth_is_consistent():
    data = listings.generate_batch(11, SIZE, 2, batch.DAY_CHANGES)
    # every listing appears, re-scrapes only add rows
    assert len(data.day0) > data.distinct_keys == SIZE
    assert all(v > 0 for v in data.labels.values())
    t = data.day_truth[0]
    upd, new, wd = batch.DAY_CHANGES
    assert (t.updates, t.inserts + t.relisted, t.withdrawals) == (upd, new, wd)
    assert t.rows_after == data.distinct_keys + t.inserts - wd
    # malformed stream messages do not parse; valid ones do
    s = listings.generate_stream(5, 3, 20)
    lines = b"".join(s.files).splitlines()
    parsed = 0
    for ln in lines:
        try:
            json.loads(ln)
            parsed += 1
        except ValueError:
            pass
    assert parsed == sum(len(f) for f in s.ids)
    assert len(lines) - parsed == sum(s.malformed) > 0


def test_relisted_copies_come_from_listings_left_in_the_corpus():
    # the near-dup check's corpus leaves out the day's own listings, so a
    # copy of a listing updated the same day would not be caught
    for seed in range(100, 120):
        data = listings.generate_batch(seed, SIZE, 3, batch.DAY_CHANGES)
        seen = {r["MLSNUM"] for r in data.day0}
        for rows in data.days:
            updated = {r["REMARKSPUBLIC"] for r in rows if r["MLSNUM"] in seen}
            assert not [r for r in rows
                        if r["MLSNUM"] not in seen and r["REMARKSPUBLIC"] in updated]
            seen |= {r["MLSNUM"] for r in rows}


def test_filler_text_never_spells_a_label():
    data = listings.generate_batch(2, SIZE, 1, batch.DAY_CHANGES)
    for row in data.day0:
        owner = row["OWNERNAME"].lower()
        if "holdings llc" not in owner:
            for bad in ("llc", "inc", "corp", "group", "management"):
                assert bad not in owner
        remarks = row["REMARKSPUBLIC"].upper()
        for bad in ("TLC", "MOLD", "DAMAGE", "ESTATE SALE"):
            assert bad not in remarks


def test_wrong_answer_is_counted_as_failed():
    truth = listings.DayTruth(updates=3, inserts=2, withdrawals=1, rows_after=10,
                              price_after=1000)
    ok = Checker()
    batch.check_day(ok, "d1", ((10, 1000, {}), {"insert": 5, "delete": 4}), truth)
    assert ok.failures == [] and ok.failed_frac == 0.0

    planted = Checker()
    batch.check_day(planted, "d1", ((10, 999, {}), {"insert": 5, "delete": 4}), truth)
    assert planted.attempted == 4
    assert len(planted.failures) == 1 and "price sum" in planted.failures[0]
    assert planted.failed_frac == 0.25


def test_stream_check_catches_duplicates_and_losses():
    chk = Checker()
    stream.check_exactly_once(chk, ["a", "b", "b"], 1, {"a", "b", "c"}, 1)
    kinds = " ".join(chk.failures)
    assert "duplicate rows: got 1" in kinds
    assert "missing rows: got 1" in kinds
    assert "committed rows" not in kinds  # 3 rows either way; the ids differ


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "day", 0.0, 10.0, None, "r"),
        Span(1, "merge", 1.0, 4.0, 0, "r"),
        Span(2, "read", 3.0, 6.0, 0, "r"),  # overlaps merge: union is 1..6
        Span(3, "plan", 1.5, 2.0, 1, "r"),
        Span(4, "late", 9.0, 12.0, 0, "r"),  # clipped to the parent: 9..10
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 + 1.0)
    assert st[1] == 3.0 - 0.5
    assert st[2] == 3.0 and st[3] == 0.5


class _FakeTime:
    def __init__(self):
        self.t = 0.0

    def now(self) -> float:
        return self.t

    def sleep(self, dt: float) -> None:
        self.t += dt


def test_open_loop_times_files_from_their_due_time():
    clock = _FakeTime()
    landed = []

    def slow_drain():
        clock.t += 2.5

    loop = stream.OpenLoop(3, 1.0, landed.append, slow_drain,
                           now=clock.now, sleep=clock.sleep)
    loop.run()
    # file 0 due at 0 drains 0..2.5; files 1 and 2 fall due during that
    # drain, land at 2.5 and commit at 5.0
    assert landed == [0, 1, 2]
    assert loop.latency == [2.5, 4.0, 3.0]
    assert max(loop.late) == 1.5
    assert loop.backlog_max == 2 and len(loop.drain_walls) == 2
    assert loop.last_commit - loop.first_due == 5.0


def test_open_loop_keeps_its_schedule_when_idle():
    clock = _FakeTime()
    loop = stream.OpenLoop(8, 0.5, lambda k: None, lambda: None,
                           now=clock.now, sleep=clock.sleep)
    loop.run()
    assert len(loop.latency) == 8 and len(loop.drain_walls) == 8
    assert max(loop.late) < 0.06  # sleeps in steps of at most 0.05 s


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(40)]
    pct, v = tail(xs)
    assert pct == 75.0 and v == 29.0
    assert tail(xs[:8]) == (50.0, 3.5)


def test_cpu_meter_counts_the_process_tree_under_the_jvm():
    # a shell stands in for the JVM: the CPU its child burns is counted
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    # (the trailing `true` makes the shell fork the child, not exec it)
    shell = subprocess.Popen(["sh", "-c", f"{sys.executable} -c '{busy}'; true"])
    try:
        meter, own = CpuMeter(shell.pid), CpuMeter(None)
        c0, o0 = meter(), own()
        for _ in range(200):
            if meter() - c0 >= 0.4:
                break
            time.sleep(0.05)
        assert meter() - c0 >= 0.4
        assert own() - o0 < 0.2  # this process only polled
    finally:
        shell.wait(timeout=60)


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == ["listing_daily_batch", "listing_stream"]
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == {k: v[:2] for k, v in metrics.PER_LAYER.items()}


def _job(jid, desc, stages, eid, query=None):
    props = {"spark.sql.execution.id": str(eid)}
    if query is not None:
        props["sql.streaming.queryId"] = query
    if desc is not None:
        props["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Properties": props}


def _task(stage, ms, shuffle_w=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": ms},
            "Task Metrics": {"Executor CPU Time": ms * 1_000_000, "JVM GC Time": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w}}}


def test_event_log_totals_leave_out_unmeasured_jobs(tmp_path):
    sql = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
    events = [
        _job(0, None, [0], 0),  # the session's first job, outside any span
        {"Event": sql + "Start", "executionId": 1, "time": 1000},
        _job(1, "r::versioned.versioned_merge", [1], 1),
        _task(1, 400, shuffle_w=1024 * 1024),
        _task(1, 400),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": sql + "End", "executionId": 1, "time": 3000},
        {"Event": sql + "Start", "executionId": 2, "time": 3000},
        _job(2, "r::check", [2], 2),
        _task(2, 5000),
        {"Event": sql + "End", "executionId": 2, "time": 9000},
        # a drain of the warm-up query: Spark's own batch description
        _job(3, "id = warm\nbatch = 0", [3], 3, query="warm"),
        _task(3, 7000),
    ]
    log = tmp_path / "log"
    log.mkdir()
    (log / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = parse_event_log(str(log), wall_s=5.0, cores=4, query_ids=["q"])
    assert (out["spark.jobs"], out["spark.stages"], out["spark.tasks"]) == (1, 1, 2)
    assert out["spark.exec_span_s"] == 2.0 and out["spark.driver_gap_s"] == 3.0
    assert out["spark.core_util"] == 0.8 / (2.0 * 4)
    assert out["spark.shuffle_write_mb"] == 1.0


def test_progress_counts_measured_batches_only(tmp_path):
    p = tmp_path / "progress.jsonl"
    rows = [
        # the warm-up drain: another checkpoint, so another query id
        {"id": "warm", "numInputRows": 10, "durationMs": {"triggerExecution": 3000,
                                                          "addBatch": 2000}},
        {"id": "q", "numInputRows": 20, "durationMs": {"triggerExecution": 900,
                                                       "addBatch": 600,
                                                       "queryPlanning": 100,
                                                       "walCommit": 50}},
        {"id": "q", "numInputRows": 0, "durationMs": {"triggerExecution": 5}},  # idle
    ]
    p.write_text("".join(json.dumps(r) + "\n" for r in rows))
    out = parse_progress(str(p), ["q"])
    assert out["ingest.batches"] == 1 and out["ingest.trigger_ms"] == 900
    assert out["ingest.add_batch_ms"] == 600 and out["ingest.query_planning_ms"] == 100
    assert out["ingest.input_rows"] == 20
