"""Set-up, measurement and metric assembly shared by the workloads.

``setup_s`` is the run's whole set-up: session start (JVM launch and a
first job), input preparation (generate the seeded inputs, write them as
files) and the workload's untimed warm-up, if it has one.
"""

from __future__ import annotations

import os
import time

from . import common
from .metrics import END_TO_END, PER_LAYER
from .trace import Tracer, make_progress_listener, parse_event_log, parse_progress


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def run_workload(args, dirs: common.RunDirs) -> dict:
    if args.workload == "listing_daily_batch":
        from . import batch as wl
    else:
        from . import stream as wl

    trace = bool(args.trace)
    spark, session_s = _timed(common.start_session, dirs, trace)
    try:
        tracer = Tracer(os.path.basename(dirs.root), trace, spark if trace else None)
        progress_path = os.path.join(dirs.trace, "progress.jsonl")
        if trace:
            spark.streams.addListener(make_progress_listener(progress_path))
        env = common.environment_record(spark)
        data, prepare_s = _timed(wl.prepare, args.seed, os.path.join(dirs.work, "inputs"))
        res = wl.run(spark, tracer, dirs.work, data, args.seconds)
        rss = common.peak_rss_mb(spark)
        if trace:
            # kept after the run, unlike the temp root
            out_dir = os.path.join(common.ROOT, ".perfbench_out", os.path.basename(dirs.root))
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, "spans.jsonl"))
    finally:
        common.stop_session(spark)
    tmp_left = common.dir_mb(dirs.tmp)

    chk = res["checks"]
    failed_frac = chk.failed_frac
    e2e = {
        "setup_s": session_s + prepare_s + res["warm_s"],
        "op_cpu_s": res["op_cpu_s"],
    }
    # wall figures: printed, and per-layer in traced runs, but unbounded
    wall = {
        "run.op_wall_p50_s": common.median(res["op_times"]),
        "run.rows_per_s": res["rows"] / res["wall"],
    }
    named = {k: (v, END_TO_END[k][0]) for k, v in e2e.items()}
    named.update({k: (v, PER_LAYER[k][0]) for k, v in wall.items()})
    named["setup.session_s"] = (session_s, "s")
    named["setup.prepare_s"] = (prepare_s, "s")
    named["setup.warm_s"] = (res["warm_s"], "s")
    named["peak_rss_mb"] = (rss, "MB")
    named.update(res["named"])
    named["tmp_left_mb"] = (tmp_left, "MB")
    named["failed_frac"] = (failed_frac, f"ratio of {chk.attempted} checked ops")
    if trace:
        layer = layer_metrics(tracer, res, dirs, session_s, tmp_left, progress_path)
        layer["run.failed_frac"] = failed_frac
        layer["run.peak_rss_mb"] = rss
        layer.update(wall)
        metrics = {k: (layer[k], u) for k, (u, *_rest) in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], u) for k, (u, *_rest) in END_TO_END.items()}
    return {
        "metrics": metrics,
        "named": named,
        "attempted": chk.attempted,
        "failures": chk.failures,
        "environment": env,
    }


def layer_metrics(tracer, res, dirs, session_s, tmp_left, progress_path) -> dict:
    """Every per-layer metric; a layer the workload does not enter
    reads 0."""
    t, c = tracer, tracer.counts
    # time inside the measured package calls, without the tracer's own
    busy = res["busy"] - t.overhead_s
    out = {
        "session.start_s": session_s,
        "run.tmp_left_mb": tmp_left,
        "trace.overhead_frac": t.overhead_s / busy,
        "gen.late_s_max": 0.0,
        "pipelines.plan_ms": t.total_ms("pipelines.plan"),
        "pipelines.calls": t.calls("pipelines.plan"),
        "pipelines.rows_out": c.get("pipelines.rows_out", 0),
        "dedup.rows_dropped_frac": c.get("dedup.rows_dropped", 0) / max(1, c.get("dedup.rows_in", 0)),
        "dedup.lsh_new_docs_ms": t.total_ms("dedup.lsh_incremental_new_docs"),
        "dedup.near_dup_frac": c.get("dedup.lsh_dropped", 0) / max(1, c.get("dedup.lsh_in", 0)),
        "ingest.drains": 0,
        "ingest.drain_ms": 0.0,
        "ingest.backlog_files_max": 0,
        "ingest.quarantined_rows": 0,
    }
    for op in ("write", "merge", "delete_dv", "read", "changes"):
        out[f"versioned.{op}_ms"] = t.total_ms(f"versioned.versioned_{op}")
    commits = c.get("versioned.commits", 0)
    out["versioned.commits"] = commits
    out["versioned.files_added"] = c.get("versioned.files_added", 0)
    out["versioned.mb_added"] = c.get("versioned.mb_added", 0.0)
    out["versioned.files_per_commit"] = out["versioned.files_added"] / max(1, commits)
    out.update(res.get("layer", {}))
    prog = parse_progress(progress_path, res.get("query_ids", []))
    out.update({k: v for k, v in prog.items() if k in PER_LAYER})
    # counted by the batch's pipeline, read from the stream's progress
    out["pipelines.rows_in"] = c.get("pipelines.rows_in", 0) + prog["ingest.input_rows"]
    out["ingest.start_stop_ms"] = max(0.0, out["ingest.drain_ms"] - prog["ingest.trigger_ms"])
    out.update(parse_event_log(os.path.join(dirs.trace, "eventlog"), busy,
                               common.machine_cores(), res.get("query_ids", [])))
    return out
