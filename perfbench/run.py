#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload behavioral --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from the
seed into a scratch directory under the repository root, starts a
fixed ``local[3]`` Spark session, runs every query of the workload
once as warm-up (collecting the results), times passes through the
noop sink until ``--seconds`` have passed, checks the warm-up results
against the DuckDB oracles, and prints one JSON object as the last
line of standard output. ``--trace 1`` reports the per-layer metrics
instead of the end-to-end ones (see README.md).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 3  # local[N]: fixed, one core of a 4-vCPU box left to the driver
SHUFFLE_PARTITIONS = 6
DRIVER_MEMORY = "2g"
SCAN_REPS = 5
REWRITE_REPS = 50
KERNEL_REPS = 3
PROBE_JOBS = 4
PROBE_WARMUP = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is the self-tests' smoke size")
    return p.parse_args(argv)


def start_spark(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    # A fixed heap and young generation, so the resident heap follows the
    # live data, not the collector's adaptive sizing. C1 only: on 4 vCPUs
    # the C2 compiler threads compete with the task threads and the driver
    # for the whole of a short run, and each process settled at its own
    # speed (README.md, "Steady-run settings").
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -Xmn256m "
                 "-XX:TieredStopAtLevel=1")
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the JVM's Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    from procs import descendants, wait_gone

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    wait_gone(kids, 30)


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def between_queries(spark) -> None:
    """Collect garbage on both sides, outside every timed region."""
    gc.collect()
    spark._jvm.System.gc()


class Ledger:
    """Query executions attempted and failed in this run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn):
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            self.failed += 1
            print(f"query {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return False, None


def noop_seconds(spark, q, sf_dir) -> float:
    """Wall time to build ``q`` and write its result to the noop sink."""
    t0 = time.perf_counter()
    q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe_seconds(spark) -> float:
    """Wall time of a fixed mix of small Spark jobs that calls nothing in
    the package, so no change to the package can move it: the run's
    speed reference on a shared machine."""
    t0 = time.perf_counter()
    for _ in range(PROBE_JOBS):
        (spark.range(0, 200_000, 1, CORES).selectExpr("id % 97 AS k", "hash(id) AS h")
         .groupBy("k").sum("h").write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def timed_passes(spark, queries, sf_dir, seconds, ledger, one=None, min_passes=1,
                 probes=None) -> dict:
    """Run passes over ``queries`` until ``seconds`` have passed, and
    at least ``min_passes`` full passes. ``one(query, pass_no)`` runs
    one execution and returns its record; by default the noop-write
    wall time. With a ``probes`` list, ``probe_seconds`` runs before
    each pass and is appended to it. Returns query name -> list of
    records."""
    one = one or (lambda q, _: noop_seconds(spark, q, sf_dir))
    records = {q.name: [] for q in queries}
    live = list(queries)
    deadline = time.perf_counter() + seconds
    n = 0
    while live and (n < min_passes or time.perf_counter() < deadline):
        if probes is not None:
            between_queries(spark)
            probes.append(probe_seconds(spark))
        for q in list(live):
            if n >= min_passes and time.perf_counter() >= deadline:
                break
            between_queries(spark)
            ok, rec = ledger.run(q.name, lambda: one(q, n))
            if ok:
                records[q.name].append(rec)
            else:
                live.remove(q)
        n += 1
    return {k: v for k, v in records.items() if v}


def pass_seconds(times: dict) -> float:
    return sum(statistics.median(v) for v in times.values())


def run(args, work: str) -> tuple:
    import workloads
    from procs import TreeRss

    workload = workloads.WORKLOADS[args.workload]
    sf_dir = os.path.join(work, "data")
    ledger = Ledger()
    metrics = {}
    with TreeRss(os.getpid()) as rss:
        spark = start_spark(work)
        log("spark session started")
        try:
            profile = workload.generate(args.seed, args.size, sf_dir, CORES)
            print(json.dumps({"workload": workload.name, "seed": args.seed, "input": profile}),
                  flush=True)
            log("inputs generated")
            queries = workload.queries()
            results = {}
            for q in queries:
                between_queries(spark)
                ok, pdf = ledger.run(q.name, lambda: q.build(spark, sf_dir).toPandas())
                if ok:
                    results[q.name] = pdf
            queries = [q for q in queries if q.name in results]
            for _ in range(PROBE_WARMUP):  # the probe's own code paths warm too
                probe_seconds(spark)
            gc.freeze()  # the kept results need no more collection
            metrics["setup_s"] = (time.perf_counter() - T_START, "s")
            log("warm-up done")
            if not queries:
                log("every query failed in warm-up: nothing to time")
            elif args.trace:
                metrics.update(trace_run(spark, workload, queries, sf_dir, args.seconds, ledger))
            else:
                probes = []
                times = timed_passes(spark, queries, sf_dir, args.seconds, ledger,
                                     probes=probes)
                pass_s = pass_seconds(times)
                probe_s = statistics.median(probes)
                print(f"pass_s {pass_s:.6g} s")
                print(f"probe_s {probe_s:.6g} s")
                metrics["pass_rel"] = (pass_s / probe_s, "ratio")
                log("per-query seconds: " + ", ".join(
                    f"{k}=[{' '.join(f'{x:.3f}' for x in v)}]" for k, v in times.items())
                    + f"; probe=[{' '.join(f'{x:.3f}' for x in probes)}]")
            if not args.trace:
                rss.stop()
                metrics["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
            log("measurement done")
        finally:
            stop_spark(spark)
            log("spark stopped")

    import gate

    bad = gate.check(ROOT, sf_dir, workload.table, results, queries)
    for name, why in bad.items():
        print(f"query {name} does not match its oracle: {why}", file=sys.stderr)
    ledger.failed += len(bad)
    log("oracle check done")
    if args.trace:
        metrics.pop("setup_s")
    return metrics, ledger


def trace_run(spark, workload, queries, sf_dir, seconds, ledger) -> dict:
    """Passes alternate between untraced and traced, so both see the
    same warm-up state; then the per-layer probes that run outside the
    query passes."""
    import layers
    import workloads

    counters = layers.StageCounters(spark)

    def one(q, n):
        if n % 2 == 0:
            return noop_seconds(spark, q, sf_dir)
        return layers.traced_query(counters, q, spark, sf_dir, f"p{n}:{q.name}")

    recs = timed_passes(spark, queries, sf_dir, seconds, ledger, one, min_passes=2)
    plain = {k: [r for r in v if not isinstance(r, dict)] for k, v in recs.items()}
    traced = {k: [r for r in v if isinstance(r, dict)] for k, v in recs.items()}
    traced = {k: v for k, v in traced.items() if v}
    for k, v in traced.items():
        r = v[0]
        log(f"traced {k}: path={r['path']} build={r['build_s']:.3f}s "
            f"plan={r['plan_s']:.3f}s exec={r['exec_s']:.3f}s "
            f"build_jobs={r['build_jobs']} jobs={r['jobs']} stages={r['stages']}")
    n_traced = min((len(v) for v in traced.values()), default=0)
    m = layers.layer_metrics([[v[i] for v in traced.values()] for i in range(n_traced)] or [[]])
    counters.set_group("probe")
    m["sources.scan_s"] = layers.scan_s(spark, sf_dir, workload.table, SCAN_REPS)
    m["sources.splits"] = layers.scan_splits(spark, sf_dir, workload.table)
    texts = list(workloads.SQL_FORMS.values()) if workload.sql_forms else []
    m["sql_surface.rewrite_ms"] = layers.rewrite_ms(texts, REWRITE_REPS) if texts else 0.0
    m["kernels.events_per_s"] = (layers.kernel_events_per_s(sf_dir, KERNEL_REPS)
                                 if workload.table == "events" else 0.0)
    traced_s = {k: [r["total_s"] for r in v] for k, v in traced.items()}
    m["trace.overhead_s"] = pass_seconds(traced_s) - pass_seconds(plain)
    return {k: (v, _unit(k)) for k, v in m.items()}


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "duckdb_behavioral_spark")):
        print(f"perfbench: no duckdb_behavioral_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file Spark, py4j and the Python workers write inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        metrics, ledger = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    fail_share = ledger.failed / max(ledger.attempted, 1)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"fail_share {fail_share:.6g} share ({ledger.failed} of {ledger.attempted} "
          "query executions)")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
