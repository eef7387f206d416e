"""``listing_daily_batch``: the write-heavy leg.

Closed loop, one client, RES listings.  Day 0 bulk-loads the table
(clean, keep-last dedup, versioned write) and reads back the current
state.  Each increment day then cleans and dedups the day's rows, drops
new listings whose remarks copy a live listing
(``lsh_incremental_new_docs``), merges the rest, withdraws listings with
a deletion-vector delete, and reads back the current state and the
day's change feed.  Every day is checked against the generator's ground
truth between measured sections.

Day 0 and at least ``MIN_DAYS`` increment days are measured, then more
days until ``seconds`` of measured time have passed.  The first
increment day runs cold (JIT, code generation) and costs 40-70 % more
CPU than the second.  The CPU figure is the average over all measured
days, day 0 included, so each run carries the same cold cost.
"""

from __future__ import annotations

import os

from . import listings
from .common import Checker, Clock, CpuMeter, jvm_pid, median
from .trace import EXTRA

DAY0_LISTINGS = 2_000
DAY_CHANGES = (12, 8, 4)  # per day: updates, new listings, withdrawals
MIN_DAYS = 2
MAX_DAYS = 8


class Pipeline:
    """The ETL steps, each call into the package wrapped in a span named
    after the package module it enters."""

    def __init__(self, spark, tracer, table: str):
        from gsmls_analysis_spark.operators.dedup import DEDUP_KEYS

        self.spark = spark
        self.tr = tracer
        self.table = table
        self.schema = listings.bronze_schema()
        self.keys = DEDUP_KEYS["RES"]
        self.disk = CommitCounter(tracer)

    def commit(self, op: str, fn, *args, **kw):
        """A committing call into ``sources.versioned`` (the table path is
        its second argument)."""
        with self.tr.span(f"versioned.{op}"):
            out = fn(*args, **kw)
        self.disk.record(args[1])
        return out

    def clean_dedup(self, bronze_path: str):
        from gsmls_analysis_spark.operators import dedup, pipelines
        from pyspark.sql import functions as F

        raw = self.spark.read.schema(self.schema).json(bronze_path)
        with self.tr.span("pipelines.plan"):
            clean = pipelines.clean_res(raw)
        clean = clean.withColumn("INGEST_SEQ", F.col("INGEST_SEQ").cast("long"))
        with self.tr.span("dedup.keep_last_dedup_for_class"):
            out = dedup.keep_last_dedup_for_class(clean, "RES", "INGEST_SEQ")
        if self.tr.enabled:
            with self.tr.unmeasured():
                n_raw, n_clean, n_out = raw.count(), clean.count(), out.count()
                self.tr.count("pipelines.rows_in", n_raw)
                self.tr.count("pipelines.rows_out", n_clean)
                self.tr.count("dedup.rows_in", n_clean)
                self.tr.count("dedup.rows_dropped", n_clean - n_out)
        return out

    def load(self, bronze_path: str) -> None:
        from gsmls_analysis_spark.sources import versioned as V

        df = self.clean_dedup(bronze_path)
        self.commit("versioned_write", V.versioned_write, df, self.table,
                    mode="overwrite")

    def increment(self, bronze_path: str, withdraw: list[str]) -> tuple[int, int]:
        """One increment; returns the table versions before and after."""
        from gsmls_analysis_spark.operators import dedup
        from gsmls_analysis_spark.sources import versioned as V
        from pyspark.sql import functions as F

        v0 = V.table_versions(self.table)[-1]
        src = self.clean_dedup(bronze_path)
        with self.tr.span("versioned.versioned_read"):
            cur = V.versioned_read(self.spark, self.table)
        corpus = cur.join(src.select(listings.ID_COL), listings.ID_COL, "left_anti")
        # the survivors are computed once: the merge reads its source
        # several times, and the span then holds the relist check's cost
        with self.tr.span("dedup.lsh_incremental_new_docs"):
            kept = dedup.lsh_incremental_new_docs(
                src, corpus, listings.ID_COL, "REMARKSPUBLIC").localCheckpoint()
        if self.tr.enabled:
            with self.tr.unmeasured():
                n_src = src.count()
                self.tr.count("dedup.lsh_in", n_src)
                self.tr.count("dedup.lsh_dropped", n_src - kept.count())
        self.commit("versioned_merge", V.versioned_merge, self.spark, self.table,
                    kept, self.keys)
        self.commit("versioned_delete_dv", V.versioned_delete_dv, self.spark,
                    self.table, F.col(listings.ID_COL).isin(withdraw))
        return v0, V.table_versions(self.table)[-1]

    def state(self) -> tuple[int, int, dict[str, int]]:
        """Current-state read: (rows, price sum, label counts), one job."""
        from gsmls_analysis_spark.sources import versioned as V
        from pyspark.sql import functions as F

        def n(cond):
            return F.sum(cond.cast("int"))

        aggs = [F.count("*").alias("rows"), F.sum(listings.PRICE_COL).alias("price"),
                n(F.col("BANK_OWNED")).alias("bank_owned"),
                n(F.col("SHORT_SALE")).alias("short_sale"),
                n(F.col("INVESTMENT_SALE")).alias("investment"),
                n(F.col("LOTSIZE_SQFT") == 0).alias("lot_zero")]
        with self.tr.span("versioned.versioned_read"):
            df = V.versioned_read(self.spark, self.table)
            row = df.agg(*aggs).collect()[0].asDict()
        rows, price = int(row.pop("rows")), int(row.pop("price") or 0)
        return rows, price, {k: int(v or 0) for k, v in row.items()}

    def changes(self, v0: int, v1: int) -> dict[str, int]:
        from gsmls_analysis_spark.sources import versioned as V

        with self.tr.span("versioned.versioned_changes"):
            df = V.versioned_changes(self.spark, self.table, v0, v1,
                                     columns=[listings.ID_COL, "INGEST_SEQ"])
            rows = df.groupBy("_change").count().collect()
        return {r["_change"]: int(r["count"]) for r in rows}


class CommitCounter:
    """Traced runs only: after a call that may commit, count the new table
    versions and the files and bytes added on disk since the last count."""

    def __init__(self, tracer):
        self.tr = tracer
        self.seen: dict[str, tuple[int, int, float]] = {}

    def _now(self, path: str) -> tuple[int, int, float]:
        from gsmls_analysis_spark.sources.versioned import table_versions

        n, size = 0, 0
        for base, _d, files in os.walk(path):
            for f in files:
                n += 1
                size += os.path.getsize(os.path.join(base, f))
        return len(table_versions(path)), n, size / (1024.0 * 1024.0)

    def record(self, path: str, label: str = EXTRA) -> None:
        if not self.tr.enabled:
            return
        with self.tr.unmeasured(label):
            now = self._now(path)
            prev = self.seen.get(path, (0, 0, 0.0))
            self.seen[path] = now
            self.tr.count("versioned.commits", now[0] - prev[0])
            self.tr.count("versioned.files_added", max(0, now[1] - prev[1]))
            self.tr.count("versioned.mb_added", max(0.0, now[2] - prev[2]))


def prepare(seed: int, out_dir: str) -> listings.BatchData:
    data = listings.generate_batch(seed, DAY0_LISTINGS, MAX_DAYS, DAY_CHANGES)
    for d, rows in enumerate([data.day0] + data.days):
        path = os.path.join(out_dir, f"day{d:03d}")
        os.makedirs(path)
        with open(os.path.join(path, "part-0.json"), "wb") as fh:
            fh.write(listings.to_json_lines(rows))
    return data


def check_day(chk: Checker, what: str, out, truth: listings.DayTruth) -> None:
    """Check one increment day: ``out`` is (current state as returned by
    ``Pipeline.state``, change-feed counts by ``_change``)."""
    (n, psum, _labels), feed = out
    chk.expect(f"{what} rows", n, truth.rows_after)
    chk.expect(f"{what} price sum", psum, truth.price_after)
    chk.expect(f"{what} feed inserts", feed.get("insert", 0), truth.feed_inserts)
    chk.expect(f"{what} feed deletes", feed.get("delete", 0), truth.feed_deletes)


def run(spark, tracer, work: str, data: listings.BatchData, seconds: float) -> dict:
    """Day 0, then increment days until ``seconds`` of measured time and
    at least ``MIN_DAYS`` days have passed; each day is checked."""
    pipe = Pipeline(spark, tracer, os.path.join(work, "tables", "RES"))
    chk = Checker()

    def inputs(d: int) -> str:
        return os.path.join(work, "inputs", f"day{d:03d}")

    def day0():
        pipe.load(inputs(0))
        return pipe.state()

    def day(d: int):
        v0, v1 = pipe.increment(inputs(d), data.withdrawals[d - 1])
        return pipe.state(), pipe.changes(v0, v1)

    cpu = CpuMeter(jvm_pid(spark))
    clock = Clock(seconds)
    ((rows, price, labels), day0_cpu), day0_s = clock.measure(cpu.measure, day0)
    chk.expect("day0 rows", rows, data.distinct_keys)
    chk.expect("day0 price sum", price, data.price_sum)
    for k, v in labels.items():
        chk.expect(f"day0 {k}", v, data.labels[k])
    rows_done = len(data.day0)
    day_walls: list[float] = []
    day_cpu: list[float] = []
    d = 1
    while (d <= MIN_DAYS or not clock.done) and d <= MAX_DAYS:
        (out, cpu_s), wall = clock.measure(cpu.measure, day, d)
        day_walls.append(wall)
        day_cpu.append(cpu_s)
        rows_done += len(data.days[d - 1])
        check_day(chk, f"day{d}", out, data.day_truth[d - 1])
        d += 1
    return {
        "checks": chk,
        "warm_s": 0.0,
        "op_times": day_walls,
        # day 0 counts as one day: the JIT work its cold start leaves
        # to the first increment day is then inside the average too
        "op_cpu_s": (day0_cpu + sum(day_cpu)) / (1 + len(day_cpu)),
        "rows": rows_done,
        "wall": clock.spent,
        "busy": clock.spent,
        "named": {
            "etl_rows_per_s": (rows_done / clock.spent, "rows/s"),
            "etl_day_p50_s": (median(day_walls), "s"),
            "etl_day0_s": (day0_s, "s"),
            "etl_day0_cpu_s": (day0_cpu, "s"),
            "etl_days": (len(day_walls), "days"),
            **{f"etl_day{i}_s": (w, "s") for i, w in enumerate(day_walls, start=1)},
            **{f"etl_day{i}_cpu_s": (c, "s") for i, c in enumerate(day_cpu, start=1)},
        },
    }
