import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("duckdb_behavioral_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    # via the loader: sets the ns-parquet conf and truncates to micros,
    # so the fixture works regardless of test execution order
    from duckdb_behavioral_spark.sources import load_events

    return load_events(spark, sf_dir)


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), n)``: the Spark jobs ``fn`` ran,
    counted through its own status-tracker job group."""
    import itertools

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    calls = itertools.count()

    def run(fn):
        group = f"count_jobs-{next(calls)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()  # job-end events reach the tracker through the bus
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def count_py4j(spark):
    """``count_py4j(fn)`` -> ``(fn(), n)``: the py4j commands ``fn`` sent
    from the main thread. py4j's finalizer thread, which sends the
    garbage-collection deletes whenever Python's collector runs, is
    left out, so the count repeats exactly for a warm build."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    main = threading.main_thread()

    def run(fn):
        send, n = client.send_command, 0

        def counted(*args, **kwargs):
            nonlocal n
            if threading.current_thread() is main:
                n += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            out = fn()
        finally:
            client.send_command = send
        return out, n

    return run
