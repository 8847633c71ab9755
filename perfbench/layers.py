"""Per-layer collection for the traced run.

Spans are taken from the benchmark's side, around the calls into each
layer of the package; the counts come from what Spark already keeps
locally: the status tracker (jobs per job group) and the application
status store (per-stage task metrics). Nothing here changes the
program; the untraced run never calls into this module.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

MB = 1024 * 1024

# Plan operators that run Python workers: the grouped engine's
# mapInPandas, and the pandas UDFs the SQL surface registers.
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


class StageCounters:
    """Jobs, stages, tasks and task metrics of the jobs run under one
    job group, read from the status tracker and the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> list:
        # job-end events reach the store through the listener bus
        self.bus.waitUntilEmpty()
        return sorted(self.tracker.getJobIdsForGroup(group))

    def totals(self, job_ids) -> dict:
        out = dict(jobs=len(job_ids), stages=0, tasks=0, task_run_s=0.0, gc_s=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0)
        stage_ids = set()
        for job in job_ids:
            info = self.tracker.getJobInfo(job)
            stage_ids.update(info.stageIds if info else ())
        for sid in sorted(stage_ids):
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out


def plan_path(df) -> str:
    """``python`` when the executed plan runs Python workers, else ``jvm``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "python" if any(n in plan for n in PYTHON_NODES) else "jvm"


def traced_query(counters: StageCounters, query, spark, sf_dir: str, tag: str) -> dict:
    """One execution of ``query`` split into construction, planning
    and execution spans, with the Spark work each of them ran and the
    time of the whole call."""
    counters.set_group(f"{tag}:build")
    t0 = time.perf_counter()
    df = query.build(spark, sf_dir)
    t1 = time.perf_counter()
    counters.set_group(f"{tag}:plan")
    path = plan_path(df)  # forces executedPlan before the write
    t2 = time.perf_counter()
    counters.set_group(f"{tag}:exec")
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    build_jobs = counters.jobs(f"{tag}:build")
    all_jobs = build_jobs + counters.jobs(f"{tag}:plan") + counters.jobs(f"{tag}:exec")
    totals = counters.totals(all_jobs)
    # total_s: the whole traced execution, the reading of tracker and store included
    return dict(name=query.name, layer=query.layer, path=path, build_s=t1 - t0,
                plan_s=t2 - t1, exec_s=t3 - t2, total_s=time.perf_counter() - t0,
                build_jobs=len(build_jobs), **totals)


def layer_metrics(passes: list) -> dict:
    """Per-layer values of one traced pass, as the medians over the
    traced passes. ``passes`` is a list of lists of ``traced_query``
    records."""

    def one(records) -> dict:
        m = {k: 0.0 for k in (
            "operators.build_s", "operators.exec_s", "operators.grouped.exec_s",
            "sql.build_s", "sql.exec_s", "functions.build_s", "functions.exec_s",
            "catalyst.plan_s")}
        m["functions.build_jobs"] = 0
        for r in records:
            m["catalyst.plan_s"] += r["plan_s"]
            if r["layer"] == "functions":
                m["functions.build_s"] += r["build_s"]
                m["functions.build_jobs"] += r["build_jobs"]
                m["functions.exec_s"] += r["exec_s"]
            elif r["layer"] == "sql":
                m["sql.build_s"] += r["build_s"]
                m["sql.exec_s"] += r["exec_s"]
            else:
                m["operators.build_s"] += r["build_s"]
                key = "operators.grouped.exec_s" if r["path"] == "python" else "operators.exec_s"
                m[key] += r["exec_s"]
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}"] = sum(r[k] for r in records)
        m["spark.task_cpu_s"] = sum(r["task_run_s"] for r in records)
        m["spark.gc_s"] = sum(r["gc_s"] for r in records)
        m["spark.shuffle_write_mb"] = sum(r["shuffle_write_mb"] for r in records)
        m["spark.spill_mb"] = sum(r["spill_mb"] for r in records)
        return m

    per_pass = [one(p) for p in passes]
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def scan_s(spark, sf_dir: str, table: str, reps: int) -> float:
    """Median noop-write time of the ``sources`` loader output alone."""
    from duckdb_behavioral_spark.sources import load_events, load_table

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = load_events(spark, sf_dir) if table == "events" else load_table(spark, sf_dir, table)
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def scan_splits(spark, sf_dir: str, table: str) -> int:
    """Scan partitions of the generated input file set."""
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).rdd.getNumPartitions()


def rewrite_ms(texts, reps: int) -> float:
    """Median time of ``rewrite_behavioral_sql`` over all ``texts``."""
    from duckdb_behavioral_spark.sql_surface import rewrite_behavioral_sql

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for text in texts:
            rewrite_behavioral_sql(text)
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def kernel_events_per_s(sf_dir: str, reps: int) -> float:
    """Single-thread direct kernel calls over the per-user event arrays
    of the generated input: ``funnel.funnel_max_step`` (q3's funnel),
    ``pattern.execute_pattern`` (q7's count) and ``next_node.next_node``
    (q9's forward first match). Events fed to the three kernels per
    second, median over ``reps``."""
    from duckdb_behavioral_spark.kernels import funnel, next_node, pattern

    t = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by(
        [("user_id", "ascending"), ("ts", "ascending")])
    ts = t.column("ts").cast("int64").to_numpy()
    et = t.column("event_type").to_numpy(zero_copy_only=False)
    bit = {"view": 1, "click": 2, "purchase": 4, "signup": 8}
    code = np.array([bit.get(e, 0) for e in et], dtype=np.int64)
    fmask = code & 7
    pmask = (code & 1) | ((code & 4) >> 1)  # view -> 1, purchase -> 2
    nmask = ((code & 8) >> 3) | ((code & 1) << 1)  # signup -> 1, view -> 2
    base = (code & 8) != 0
    _, starts = np.unique(t.column("user_id").to_numpy(), return_index=True)
    bounds = list(zip(starts, list(starts[1:]) + [len(ts)]))
    steps = pattern.parse_pattern("(?1).*(?2)")
    direction, first = next_node.parse_direction("forward"), next_node.parse_base("first_match")
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for lo, hi in bounds:
            funnel.funnel_max_step(ts[lo:hi], fmask[lo:hi], 3_600_000_000, 3, 0)
            nz = pmask[lo:hi] != 0
            pattern.execute_pattern(steps, ts[lo:hi][nz], pmask[lo:hi][nz], True)
            next_node.next_node(list(et[lo:hi]), base[lo:hi], nmask[lo:hi], direction, first, 2)
        times.append(time.perf_counter() - t0)
    return 3 * len(ts) / statistics.median(times)
