"""The benchmark's workloads and the closed-loop client they share.

Each workload is one process, one client issuing one op at a time, and
Spark at ``local[SPARK_GRAFT_CPUS]``. A run:

1. generates its inputs from the seed (``datagen``) before any timing;
2. sets the session up ``SETUP_REPS`` times (stop, ``get_spark``, one
   probe op) and reports the median as ``setup_s``;
3. runs an untimed warm-up (for the query workload it is also the
   output-check pass);
4. runs timed ops until ``--seconds`` have passed and the workload's
   minimum op count is reached, clearing Spark's cache before each op;
5. checks outputs; a mismatch counts against the ops it covers.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback

import numpy as np

import checks
import datagen
from spans import Tracer, busy_ms, cpu_split, job_groups, tree_rss_mb

SETUP_REPS = 5

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "read_p50_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.count_mismatches": "count",
    "plan.exchanges_per_op": "count",
    "plan.python_nodes_per_op": "count",
    "cpu.jvm_s_per_op": "s",
    "cpu.pyworker_s_per_op": "s",
    "driver.no_job_s_per_op": "s",
    "sinks.append_rows_s": "s",
    "sinks.live_batches": "count",
    "sinks.bytes_written_per_input_byte": "ratio",
    "sinks.warehouse_maintenance_s": "s",
    "sinks.batches_reclaimed": "count",
    "pipeline.refresh_daily_summary_s": "s",
    "pipeline.dates_refreshed_per_op": "count",
    "pipeline.refresh_device_lifetime_s": "s",
    "pipeline.lifetime_full_ratio": "ratio",
    "pipeline.read_gold_s": "s",
    "space_amp": "ratio",
    "trace.overhead_s_per_op": "s",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a mean of all order
    statistics weighted by the Beta(p(n+1), (1-p)(n+1)) mass that falls
    between (i-1)/n and i/n. Unlike a single order statistic it does not
    jump when two ops of a mixed workload swap ranks."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    cdf = np.concatenate(([0.0], np.cumsum(pdf[1:] + pdf[:-1])))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, t, cdf)  # 0 and 1 at the ends
    return float(np.diff(edges) @ x)


def tail(lat: list[float]) -> tuple[float, int]:
    """(value, percentile) at the highest of p75/90/95/99 that has at
    least 10 samples beyond it; the median if none has."""
    n = len(lat)
    pct = max([p for p in (75, 90, 95, 99) if n * (100 - p) / 100 >= 10],
              default=50)
    return quantile(lat, pct / 100), pct


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Client:
    """Shared state of one run: the session, the op log and the tracer."""

    def __init__(self, args, work: str, process_t0: float):
        self.seed, self.seconds = args.seed, args.seconds
        self.work = work
        self.process_t0 = process_t0
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.ops: list[dict] = []
        self.reads: list[float] = []
        self.setup_samples: list[float] = []
        self.warmup_s = 0.0
        self.timed_wall = 0.0
        self.peak_rss_mb = 0.0
        self.loadavg: list[tuple[float, float]] = []
        self.layer: dict[str, float] = {}
        self.check_problems: list[str] = []
        self.counts: dict | None = None  # per query: distinct count tuples
        self.count_mismatches: list[str] | None = None
        self.sample_load()

    # --- session ---------------------------------------------------------

    def sample_load(self) -> None:
        with open("/proc/loadavg") as fh:
            self.loadavg.append((round(time.time(), 3),
                                 float(fh.read().split()[0])))

    def instrument(self) -> None:
        from roborock_data_pipeline_spark import pipeline, session
        from roborock_data_pipeline_spark.plans import inspect
        from roborock_data_pipeline_spark.sources import (
            commit_provider, sinks, versioned_dir)

        tr = self.tracer
        tr.instrument(session, "session", ["get_spark", "prepare"])
        tr.instrument(sinks, "sinks", [
            "append_rows", "list_batches", "read_table", "overwrite_partitions",
            "warehouse_maintenance", "vacuum_table"])
        tr.instrument(versioned_dir, "versioned_dir", ["publish", "resolve"])
        tr.instrument(commit_provider, "commit_provider",
                      ["commit_pointer", "read_pointer"])
        tr.instrument(pipeline, "pipeline", [
            "refresh_daily_summary", "refresh_device_lifetime",
            "read_device_lifetime", "rollup_for_dates"])
        tr.instrument(inspect, "plans.inspect", ["plan_string"])

    def stop_session(self) -> None:
        from roborock_data_pipeline_spark.functions import cache_tracking

        cache_tracking.release_all()
        self.spark.stop()
        self.spark = None

    def setup(self, probe) -> None:
        """Set the session up SETUP_REPS times; the first sample runs
        from process start (interpreter, imports, input generation,
        JVM launch), the others from stopping the previous session."""
        from roborock_data_pipeline_spark import session

        for i in range(SETUP_REPS):
            t0 = self.process_t0 if i == 0 else time.perf_counter()
            self.tracer.op = f"setup-{i}"
            if self.spark is not None:
                self.stop_session()
            self.spark = session.get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            probe()
            self.setup_samples.append(time.perf_counter() - t0)
        self.sample_load()

    # --- ops -------------------------------------------------------------

    def op(self, name: str, fn) -> tuple[object, dict]:
        """Run one timed op. Tracing bookkeeping happens outside the
        op's own latency but inside the timed wall."""
        self.spark.catalog.clearCache()
        group = f"op-{len(self.ops)}"
        rec: dict = {"name": name, "group": group, "failed": False}
        traced = self.tracer.enabled
        if traced:
            b0 = time.perf_counter()
            self.spark.sparkContext.setJobGroup(group, name)
            self.tracer.op = group
            cpu0 = cpu_split()
            self.tracer.overhead_s += time.perf_counter() - b0
        w0, t0 = time.time(), time.perf_counter()
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            result, rec["failed"] = None, True
        rec["lat"] = time.perf_counter() - t0
        rec["window_ms"] = (w0 * 1000.0, time.time() * 1000.0)
        if traced:
            b0 = time.perf_counter()
            cpu1 = cpu_split()
            rec["jvm_s"], rec["pyw_s"] = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
            self.spark.sparkContext.setJobGroup("client", "between ops")
            self.tracer.op = "client"
            self.tracer.overhead_s += time.perf_counter() - b0
        self.ops.append(rec)
        return result, rec

    def read(self, fn) -> None:
        t0 = time.perf_counter()
        fn()
        self.reads.append(time.perf_counter() - t0)

    # --- results ---------------------------------------------------------

    def finish_trace(self) -> None:
        """Before the session stops: per-op job/stage/task counts and
        driver no-job time from Spark's status store."""
        groups = job_groups(self.spark)
        for rec in self.ops:
            g = groups.get(rec["group"], {"jobs": [], "stages": 0, "tasks": 0})
            rec["jobs"], rec["stages"], rec["tasks"] = (
                len(g["jobs"]), g["stages"], g["tasks"])
            lo, hi = rec["window_ms"]
            rec["no_job_s"] = max(
                0.0, (hi - lo - busy_ms(g["jobs"], lo, hi)) / 1000.0)

    def end_to_end(self) -> tuple[dict[str, float], dict]:
        lat = [r["lat"] for r in self.ops]
        tail_v, tail_p = tail(lat)
        reads = self.reads or lat  # query workloads: every op is a read
        return {
            "setup_s": _median(self.setup_samples),
            "op_p50_s": quantile(lat, 0.5),
            "op_tail_s": tail_v,
            "ops_per_s": len(lat) / self.timed_wall,
            "read_p50_s": quantile(reads, 0.5),
        }, {"op_tail_percentile": tail_p,
            "reads_are_ops": not self.reads}

    def per_layer(self) -> dict[str, float]:
        tr, ops = self.tracer, self.ops
        timed = {r["group"] for r in ops}

        def span_med(name: str, ops: set | None = timed) -> float:
            return _median([s["end"] - s["start"] for s in tr.spans
                            if s["name"] == name and s["depth"] == 0
                            and (ops is None or s["op"] in ops)])

        out = {k: 0.0 for k in PER_LAYER}
        out.update({
            "session.get_spark_s": span_med("session.get_spark", None),
            "session.warmup_s": self.warmup_s,
            "session.peak_rss_mb": self.peak_rss_mb,
            "spark.jobs_per_op": _mean([r["jobs"] for r in ops]),
            "spark.stages_per_op": _mean([r["stages"] for r in ops]),
            "spark.tasks_per_op": _mean([r["tasks"] for r in ops]),
            "cpu.jvm_s_per_op": _mean([r["jvm_s"] for r in ops]),
            "cpu.pyworker_s_per_op": _mean([r["pyw_s"] for r in ops]),
            "driver.no_job_s_per_op": _mean([r["no_job_s"] for r in ops]),
            "trace.overhead_s_per_op": tr.overhead_s / max(1, len(ops)),
            "operators.build_s": span_med("operators.build"),
            "operators.exec_s": span_med("operators.exec"),
            "sinks.append_rows_s": span_med("sinks.append_rows"),
            "sinks.warehouse_maintenance_s": span_med("sinks.warehouse_maintenance"),
            "pipeline.refresh_daily_summary_s": span_med("pipeline.refresh_daily_summary"),
            "pipeline.refresh_device_lifetime_s": span_med("pipeline.refresh_device_lifetime"),
        })
        out.update(self.layer)
        return out


# --- warehouse_queries -----------------------------------------------------

WAREHOUSE_MIX = [
    "q_daily_summary", "q_tpch_q1_shape", "q_tpch_q3_shape", "q_tpch_q5_shape",
    "q_tpch_q9_shape", "q_tpch_q18_shape", "q_tpch_q21_shape", "q_star_join",
    "q_fact_join", "q_sessionize", "q_latest_per_device", "q_asof_status",
    "q_funnel", "q_cohort_retention", "q_grouping_sets", "q_percentiles",
    "q_subquery_correlated", "q_rolling_distinct", "q_interval_count_24h",
    "q_top_spenders_per_nation",
]
WAREHOUSE_SF = 0.01
MIN_PASSES = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warehouse_queries(c: Client) -> dict:
    from roborock_data_pipeline_spark.registry import get_query

    tables = os.path.join(c.work, "tables")
    input_bytes = datagen.write_tables(tables, c.seed, WAREHOUSE_SF)
    specs = {q: get_query(q) for q in WAREHOUSE_MIX}
    c.setup(lambda: _noop(specs["q_daily_summary"].fn(c.spark, tables)))

    # untimed warm-up pass, which is also the output check
    rng = random.Random(c.seed)
    bad: dict[str, list[str]] = {}
    con = checks.duckdb_conn(tables)
    c.tracer.op = "warmup"
    for q in rng.sample(WAREHOUSE_MIX, len(WAREHOUSE_MIX)):
        t0 = time.perf_counter()
        got = specs[q].fn(c.spark, tables).toPandas()
        c.warmup_s += time.perf_counter() - t0
        problems = checks.compare_frames(got, con.execute(specs[q].oracle).df())
        if problems:
            bad[q] = problems
    c.sample_load()

    from roborock_data_pipeline_spark.plans import inspect

    # whole passes only: after the minimum, another pass starts only if
    # one as long as the last still ends within --seconds
    t_start, passes, pass_s = time.perf_counter(), 0, 0.0
    while (passes < MIN_PASSES
           or time.perf_counter() - t_start + pass_s <= c.seconds):
        p0 = time.perf_counter()
        for q in rng.sample(WAREHOUSE_MIX, len(WAREHOUSE_MIX)):
            def run(q=q):
                df = c.tracer.call("operators.build", specs[q].fn, c.spark, tables)
                c.tracer.call("operators.exec", _noop, df)
                return df

            df, rec = c.op(q, run)
            rec["failed"] = rec["failed"] or q in bad
            if c.tracer.enabled and df is not None:
                b0 = time.perf_counter()
                rec["plan"] = checks.plan_counts(inspect.plan_string(df, "simple"))
                c.tracer.overhead_s += time.perf_counter() - b0
        pass_s = time.perf_counter() - p0
        passes += 1
        c.sample_load()
    c.timed_wall = time.perf_counter() - t_start
    c.check_problems = [f"{q}: {p[:2]}" for q, p in bad.items()]
    return {"passes": passes, "input_bytes": input_bytes, "sf": WAREHOUSE_SF}


def warehouse_after_trace(c: Client) -> None:
    """Plan counts per op, and the check that every per-op count
    repeats exactly across passes."""
    planned = [r for r in c.ops if "plan" in r]  # failed ops have none
    per_query: dict[str, set] = {}
    for r in planned:
        key = (r["jobs"], r["stages"], r["tasks"],
               r["plan"]["exchanges"], r["plan"]["python_nodes"])
        per_query.setdefault(r["name"], set()).add(key)
    mismatched = sorted(q for q, keys in per_query.items() if len(keys) > 1)
    c.layer["spark.count_mismatches"] = float(len(mismatched))
    c.layer["plan.exchanges_per_op"] = _mean(
        [r["plan"]["exchanges"] for r in planned])
    c.layer["plan.python_nodes_per_op"] = _mean(
        [r["plan"]["python_nodes"] for r in planned])
    c.counts = {q: sorted(k) for q, k in per_query.items()}
    c.count_mismatches = mismatched


# --- telemetry_ingest ------------------------------------------------------

TELEMETRY_ROWS = 2000
TELEMETRY_DEVICES = 500
TELEMETRY_LATE = 0.10
WARM_OPS = 4
MIN_OPS = 6
MAX_OPS = 60
MAINT_EVERY = 4
RETAIN_LAST_N = 4


def telemetry_ingest(c: Client) -> dict:
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark import pipeline, schemas
    from roborock_data_pipeline_spark.sources import sinks

    landing, sizes = datagen.write_telemetry_batches(
        os.path.join(c.work, "landing"), c.seed, WARM_OPS + MAX_OPS,
        TELEMETRY_ROWS, TELEMETRY_DEVICES, TELEMETRY_LATE)
    wh = os.path.join(c.work, "warehouse")
    # provisioning is the set-up probe: the first rep creates the
    # tables, the later ones find them provisioned
    c.setup(lambda: sinks.setup_warehouse(c.spark, wh))
    rng = random.Random(c.seed)
    stats = {"dates": [], "lifetime_modes": [], "reclaimed": [],
             "bytes_ratio": []}

    def ingest(i: int):
        df = c.spark.read.schema(schemas.CLEANING_RECORDS).parquet(landing[i])
        sinks.append_rows(df, wh, "cleaning_records")
        daily = pipeline.refresh_daily_summary(c.spark, wh)
        life = pipeline.refresh_device_lifetime(c.spark, wh)
        maint = None
        if (i + 1) % MAINT_EVERY == 0:
            maint = sinks.warehouse_maintenance(c.spark, wh, RETAIN_LAST_N)
        return daily, life, maint

    def gold_read() -> None:
        # a point lookup only: a date-range read_daily_summary can hang
        # in Spark's partition-value inference (see checks._daily_gold)
        device = f"robot-{rng.randrange(TELEMETRY_DEVICES):04d}"
        c.read(lambda: pipeline.read_device_lifetime(c.spark, wh).where(
            F.col("device_name") == device).collect())

    c.tracer.op = "warmup"
    t0 = time.perf_counter()
    for i in range(WARM_OPS):
        ingest(i)
        gold_read()
    c.warmup_s = time.perf_counter() - t0
    c.reads.clear()
    c.sample_load()

    i = WARM_OPS
    t_start = time.perf_counter()
    while i - WARM_OPS < MIN_OPS or time.perf_counter() - t_start < c.seconds:
        if i >= len(landing):
            break
        before = set(sinks.list_batches(wh, "cleaning_records")) \
            if c.tracer.enabled else set()
        out, rec = c.op(f"ingest-{i}", lambda i=i: ingest(i))
        if out is not None:
            daily, life, maint = out
            stats["dates"].append(daily["dates_refreshed"])
            stats["lifetime_modes"].append(life["mode"])
            if maint is not None:
                stats["reclaimed"].append(sum(maint.values()))
            elif c.tracer.enabled:
                table = sinks.table_path(wh, "cleaning_records")
                new = set(sinks.list_batches(wh, "cleaning_records")) - before
                stats["bytes_ratio"].extend(
                    du(os.path.join(table, d)) / sizes[i] for d in new)
        gold_read()
        c.sample_load()
        i += 1
    c.timed_wall = time.perf_counter() - t_start
    n_ingested = i

    c.tracer.op = "check"
    c.check_problems, ties = checks.telemetry(
        c.spark, wh, n_ingested * TELEMETRY_ROWS)
    if c.check_problems:  # the gold state is cumulative: every op is suspect
        for rec in c.ops:
            rec["failed"] = True

    c.layer.update({
        "sinks.live_batches": float(len(sinks.list_batches(wh, "cleaning_records"))),
        "sinks.bytes_written_per_input_byte": _mean(stats["bytes_ratio"]),
        "sinks.batches_reclaimed": _mean(stats["reclaimed"]),
        "pipeline.dates_refreshed_per_op": _mean(stats["dates"]),
        "pipeline.lifetime_full_ratio": _mean(
            [m == "full" for m in stats["lifetime_modes"]]),
        "pipeline.read_gold_s": _median(c.reads),
        "space_amp": du(wh) / sum(sizes[:n_ingested]),
    })
    return {"ops_ingested": n_ingested, "input_bytes": sum(sizes[:n_ingested]),
            "rows_per_batch": TELEMETRY_ROWS, "devices": TELEMETRY_DEVICES,
            "late_share": TELEMETRY_LATE, "maintenance_every": MAINT_EVERY,
            "retain_last_n": RETAIN_LAST_N, "check_float_ties": ties}


WORKLOADS = {
    "warehouse_queries": (warehouse_queries, warehouse_after_trace),
    "telemetry_ingest": (telemetry_ingest, None),
}
