"""The benchmark's metrics: names, units, better direction and, for the
end-to-end ones, the bound.  ``BENCHMARK.json`` lists the same; a test
keeps the two in step.

End-to-end metrics mean the same on both workloads:

- ``setup_s``: session start + input preparation + warm-up, if any;
- ``op_cpu_s``: CPU seconds one operation costs, summed over the Python
  driver, the driver JVM and the JVM's Python workers, and averaged
  over the run's measured operations: the days, day 0 included
  (``listing_daily_batch``), or the message files of the open loop,
  whose CPU is taken over the whole schedule (``listing_stream``).

The wall-clock figures (``run.op_wall_p50_s``: median increment-day
wall or message-file latency; ``run.rows_per_s``: rows per second of
measured wall) are printed on every run and are per-layer metrics of
the traced run, without a bound: on a shared host they react more to
its load than CPU does, because stolen time and time spent waiting for
a core are charged to no process (README.md, "Steadiness").

Peak resident memory (driver JVM + Python driver) is per-layer
``run.peak_rss_mb``: with the JVM's adaptive heap sizing it swung by
20-25 % between runs of the same seed range, wider than any bound the
benchmark may set.
"""

from __future__ import annotations

# name: (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_cpu_s": ("s", "lower", 0.24),
}

# name: (unit, better); README.md maps each to the end-to-end metric it
# should move and the workload where it should stay flat
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "run.peak_rss_mb": ("MB", "lower"),
    "run.tmp_left_mb": ("MB", "lower"),
    "run.failed_frac": ("ratio", "lower"),
    "run.op_wall_p50_s": ("s", "lower"),
    "run.rows_per_s": ("rows/s", "higher"),
    "trace.overhead_frac": ("ratio", "lower"),
    "gen.late_s_max": ("s", "lower"),
    "pipelines.plan_ms": ("ms", "lower"),
    "pipelines.calls": ("count", "higher"),
    "pipelines.rows_in": ("count", "higher"),
    "pipelines.rows_out": ("count", "higher"),
    "dedup.rows_dropped_frac": ("ratio", "higher"),
    "dedup.lsh_new_docs_ms": ("ms", "lower"),
    "dedup.near_dup_frac": ("ratio", "higher"),
    "versioned.write_ms": ("ms", "lower"),
    "versioned.merge_ms": ("ms", "lower"),
    "versioned.delete_dv_ms": ("ms", "lower"),
    "versioned.read_ms": ("ms", "lower"),
    "versioned.changes_ms": ("ms", "lower"),
    "versioned.commits": ("count", "lower"),
    "versioned.files_added": ("count", "lower"),
    "versioned.mb_added": ("MB", "lower"),
    "versioned.files_per_commit": ("count", "lower"),
    "ingest.drains": ("count", "lower"),
    "ingest.drain_ms": ("ms", "lower"),
    "ingest.batches": ("count", "lower"),
    "ingest.start_stop_ms": ("ms", "lower"),
    "ingest.query_planning_ms": ("ms", "lower"),
    "ingest.get_batch_ms": ("ms", "lower"),
    "ingest.add_batch_ms": ("ms", "lower"),
    "ingest.wal_commit_ms": ("ms", "lower"),
    "ingest.commit_offsets_ms": ("ms", "lower"),
    "ingest.backlog_files_max": ("count", "lower"),
    "ingest.quarantined_rows": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.exec_span_s": ("s", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
}
