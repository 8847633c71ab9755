"""Randomized Spark-level equivalence: JVM fast paths vs exact kernels.

The oracle data has mutually exclusive conditions (one event_type per
row); these tests generate *overlapping* condition masks — the regime
where JVM-vs-kernel divergence bugs hide (e.g. same-event multi-step
advance). 200 random groups run through each JVM path and the kernel
and must agree exactly: the funnel and match ``window`` strategies and
the count ``hof`` strategy.
"""

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

import duckdb_behavioral_spark as B

T0 = datetime(2024, 1, 1)
K = 4


@pytest.fixture(scope="module")
def random_events(spark):
    rnd = random.Random(20260813)
    rows = []
    for g in range(200):
        n = rnd.randint(0, 25)
        ts = rnd.sample(range(100_000), n)
        for t in ts:
            mask = rnd.randint(0, (1 << K) - 1)
            rows.append(
                (g, T0 + timedelta(seconds=t), *[bool((mask >> i) & 1) for i in range(K)])
            )
    # groups with zero rows simply don't exist — fine for both paths
    return spark.createDataFrame(
        rows, "g int, ts timestamp, c0 boolean, c1 boolean, c2 boolean, c3 boolean"
    ).cache()


CONDS = ["c0", "c1", "c2", "c3"]


@pytest.mark.parametrize("window", ["90 seconds", "2 hours", "0 seconds"])
def test_funnel_strategies_agree(spark, random_events, window):
    kernel = B.window_funnel(random_events, window, "ts", CONDS, ["g"],
                             strategy="kernel")
    got = B.window_funnel(random_events, window, "ts", CONDS, ["g"],
                          strategy="window")
    assert {r.g: r.step for r in got.collect()} == {r.g: r.step for r in kernel.collect()}


@pytest.mark.parametrize(
    "pattern",
    ["(?1)(?2)", "(?2)(?1)(?3)", "(?1)(?1)(?4)",
     "(?1).*(?2)", "(?3).*(?1).*(?2)", "(?2).*(?2)"],
)
def test_sequence_strategies_agree(spark, random_events, pattern):
    ref = B.sequence_match(random_events, pattern, "ts", CONDS, ["g"],
                           strategy="kernel")
    got = B.sequence_match(random_events, pattern, "ts", CONDS, ["g"],
                           strategy="window")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    a = B.sequence_count(random_events, pattern, "ts", CONDS, ["g"], strategy="hof")
    b = B.sequence_count(random_events, pattern, "ts", CONDS, ["g"], strategy="kernel")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
