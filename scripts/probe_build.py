"""Construction-cost probe: split a declared query into DataFrame
CONSTRUCTION (py4j column building plus the Spark jobs that barriers
run while the DataFrame is built) and EXECUTION (noop sink), and list
every construction-time ``localCheckpoint``, ``count`` and parquet read
with the Spark jobs it ran and its wall time. Each query runs twice:
cold, then warm. ``--all`` instead builds every declared query once,
without executing it, and prints one line of construction jobs per
query plus their total.

    python scripts/probe_build.py --seed 7 dedup_clusters
    python scripts/probe_build.py --seed 7 q9_next_node_forward sql:q9_next_node_forward
    python scripts/probe_build.py --sf <sf_dir> <query> [<query>...] [--profile]
    python scripts/probe_build.py --sf <sf_dir> --all

The session has the benchmark's settings (perfbench/run.py:
``local[3]``, 6 shuffle partitions, 2 GB heap, C1-only JIT). With
``--seed N`` the input is the benchmark's seeded input of the workload
that times the query (perfbench/workloads.py, full size); with ``--sf``
it is an existing testdata directory. Besides the declared queries, it
probes the benchmark's ``behavioral_sql`` forms under the benchmark's
names (``sql:q9_next_node_forward``: the events view plus the rewritten
statement). Each step's jobs are counted
through its own status-tracker job group; jobs run outside the listed
calls are printed as ``other``. Each build line and each ``--all``
line also gives the py4j commands the build sent from the main thread
(py4j's finalizer thread, which sends the garbage-collection deletes,
is left out; the main-thread count repeats exactly on warm builds).
``--profile`` adds a cProfile of the warm run's construction.
"""

import argparse
import contextlib
import cProfile
import functools
import io
import os
import pstats
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [ROOT, PERFBENCH]
PACKAGE = os.path.join(ROOT, "duckdb_behavioral_spark") + os.sep


def _caller() -> str:
    """``file:line function`` of the innermost package frame."""
    f = sys._getframe(2)
    while f is not None and not f.f_code.co_filename.startswith(PACKAGE):
        f = f.f_back
    if f is None:
        return "?"
    return f"{f.f_code.co_filename[len(PACKAGE):]}:{f.f_lineno} {f.f_code.co_name}"


class Py4jCommands:
    """Counts the py4j commands sent from the main thread, except the
    probe's own job-group calls (``uncounted``)."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send, main = client.send_command, threading.main_thread()
        self.n, self.paused = 0, False

        def counted(*args, **kwargs):
            if not self.paused and threading.current_thread() is main:
                self.n += 1
            return send(*args, **kwargs)

        client.send_command = counted

    @contextlib.contextmanager
    def uncounted(self):
        self.paused = True
        try:
            yield
        finally:
            self.paused = False


class Steps:
    """Wraps the calls that run Spark jobs during construction; each
    call runs under its own job group."""

    def __init__(self, spark, py4j):
        from pyspark.sql import DataFrameReader
        from pyspark.sql.classic.dataframe import DataFrame

        self.sc, self.py4j = spark.sparkContext, py4j
        self.bus = self.sc._jsc.sc().listenerBus()
        self.group = None  # the phase's group, restored after each step
        self.steps = []  # (label, job group, seconds)
        for cls, name in ((DataFrame, "localCheckpoint"), (DataFrame, "count"),
                          (DataFrameReader, "parquet")):
            setattr(cls, name, self._wrap(getattr(cls, name), name))

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def step(*args, **kwargs):
            if self.group is None:
                return fn(*args, **kwargs)
            group = f"{self.group}:{len(self.steps)}"
            label = f"{name} at {_caller()}"
            with self.py4j.uncounted():
                self.sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.steps.append((label, group, time.perf_counter() - t0))
                with self.py4j.uncounted():
                    self.sc.setJobGroup(self.group, self.group)

        return step

    def phase(self, group: str) -> None:
        self.group, self.steps = group, []
        self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> int:
        self.bus.waitUntilEmpty()  # job-end events reach the tracker through the bus
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


def probe(spark, steps, py4j, fn, sf_dir, tag, profile):
    steps.phase(f"{tag}:build")
    pr = cProfile.Profile() if profile else None
    n0, t0 = py4j.n, time.perf_counter()
    if pr:
        pr.enable()
    df = fn(spark, sf_dir)
    if pr:
        pr.disable()
    t1, commands = time.perf_counter(), py4j.n - n0
    built = list(steps.steps)
    steps.phase(f"{tag}:exec")
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    steps.group = None
    rows = [(steps.jobs(g), s, label) for label, g, s in built]
    other = steps.jobs(f"{tag}:build")
    build_jobs = other + sum(r[0] for r in rows)
    print(f"{tag}: build {t1 - t0:.3f}s ({build_jobs} jobs, {commands} py4j)  "
          f"exec {t2 - t1:.3f}s ({steps.jobs(f'{tag}:exec')} jobs)")
    print(f"  {'jobs':>4} {'s':>7}  step")
    for n, s, label in rows:
        print(f"  {n:>4} {s:7.3f}  {label}")
    print(f"  {other:>4} {'':>7}  other (outside the calls above)", flush=True)
    if pr:
        out = io.StringIO()
        pstats.Stats(pr, stream=out).sort_stats("cumulative").print_stats(25)
        print(out.getvalue())


def job_table(spark, steps, py4j, queries, sf_dir) -> None:
    """Build each query once (no execution) and print its construction
    jobs and main-thread py4j commands, then the totals."""
    import run

    total = total_commands = 0
    print(f"{'jobs':>4} {'py4j':>6}  query")
    for name, fn in queries.items():
        run.between_queries(spark)
        steps.phase(f"{name}:build")
        n0 = py4j.n
        fn(spark, sf_dir)
        commands = py4j.n - n0
        steps.group = None
        jobs = steps.jobs(f"{name}:build") + sum(steps.jobs(g) for _, g, _ in steps.steps)
        total += jobs
        total_commands += commands
        print(f"{jobs:>4} {commands:>6}  {name}", flush=True)
    print(f"{total:>4} {total_commands:>6}  total over {len(queries)} queries")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--seed", type=int, help="generate the benchmark input from this seed")
    src.add_argument("--sf", help="an existing testdata directory")
    p.add_argument("queries", nargs="*")
    p.add_argument("--all", action="store_true",
                   help="construction jobs of every declared query (needs --sf)")
    p.add_argument("--profile", action="store_true")
    args = p.parse_args(argv)
    if args.all == bool(args.queries):
        p.error("give either query names or --all")
    if args.all and args.sf is None:
        p.error("--all needs --sf")

    import run
    import workloads

    import __spark_entry__ as E

    # the benchmark's behavioral_sql forms, named as it names them
    # (sql:<declared query>), built like the declared queries
    sql_forms = {q.name: q.build for w in workloads.WORKLOADS.values()
                 for q in w.queries() if q.layer == "sql"}
    work = tempfile.mkdtemp(prefix="probe_build-")
    # the kernel-path queries' Python workers import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.path.join(work, "tmp"))
    spark = run.start_spark(work)
    try:
        sf_dir = args.sf
        if sf_dir is None:
            sf_dir = os.path.join(work, "data")
            for w in workloads.WORKLOADS.values():
                timed = {*w.query_names, *(f"sql:{n}" for n in w.sql_forms)}
                if set(args.queries) & timed:
                    w.generate(args.seed, "full", sf_dir, run.CORES)
        py4j = Py4jCommands(spark)
        steps = Steps(spark, py4j)
        qs = E.queries()
        if args.all:
            job_table(spark, steps, py4j, qs, sf_dir)
        qs.update(sql_forms)
        for name in args.queries:
            for rep in ("cold", "warm"):
                run.between_queries(spark)
                probe(spark, steps, py4j, qs[name], sf_dir, f"{name} {rep}",
                      args.profile and rep == "warm")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
