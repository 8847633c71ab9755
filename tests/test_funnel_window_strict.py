"""window_strict strategy: JVM RANGE-frame DP must equal the exact
Python kernel for strict_increase (+/- strict_once), including tie
timestamps where a ROWS frame would wrongly allow same-ts chaining."""

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from duckdb_behavioral_spark.kernels.funnel import funnel_max_step, parse_modes
from duckdb_behavioral_spark.operators.window_funnel import window_funnel

T0 = datetime(2024, 1, 1)


def test_window_strict_equals_kernel_with_ties(spark):
    rng = random.Random(99)
    k, w = 4, 120
    mode = "strict_increase, strict_once"
    rows, expect = [], {}
    for g in range(150):
        n = rng.randint(0, 20)
        pool = range(0, 30) if g % 2 else range(0, 1500)  # half tie-heavy
        ts = sorted(rng.choice(list(pool)) for _ in range(n))
        mask = [rng.randrange(1, 1 << k) for _ in range(n)]
        expect[g] = funnel_max_step(
            [t * 1_000_000 for t in ts], mask, w * 1_000_000, k, parse_modes(mode)
        )
        rows.extend((g, T0 + timedelta(seconds=t), m) for t, m in zip(ts, mask))
    df = spark.createDataFrame(rows, "g long, ts timestamp, m long")
    got = {
        r["g"]: r["step"]
        for r in window_funnel(
            df, f"{w} seconds", "ts", [f"(m & {1 << s}) != 0" for s in range(k)],
            ["g"], mode=mode,
        ).collect()
    }
    assert got == {g: s for g, s in expect.items() if g in got}
    assert len(got) == len([g for g in expect if any(r[0] == g for r in rows)])


def test_strict_modes_dispatch_to_jvm(spark):
    df = spark.createDataFrame(
        [(1, T0, 1), (1, T0 + timedelta(minutes=1), 2)], "g long, ts timestamp, m long"
    )
    q = window_funnel(
        df, "1 hour", "ts", ["(m & 1) != 0", "(m & 2) != 0"], ["g"],
        mode="strict_increase",
    )
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert "RangeFrame" in plan or "rangeframe" in plan.lower(), plan
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_same_ts_events_cannot_chain_under_strict_increase(spark):
    # view and click at the SAME timestamp: default mode may chain
    # (tie order permitting is irrelevant — kernel says step from
    # strictly later ts only), strict_increase must NOT
    df = spark.createDataFrame(
        [(1, T0, 1), (1, T0, 2)], "g long, ts timestamp, m long"
    )
    strict = window_funnel(
        df, "1 hour", "ts", ["(m & 1) != 0", "(m & 2) != 0"], ["g"],
        mode="strict_increase",
    ).collect()[0]["step"]
    assert strict == 1


class TestTimedSequenceWindow:
    """sequence_match's window strategy on wildcard chains: its
    running-max chain must equal the NFA with and without upper-bound
    time constraints on the links."""

    def test_randomized_equals_nfa(self, spark):
        import random
        from duckdb_behavioral_spark.kernels.pattern import (
            execute_pattern,
            parse_pattern,
        )
        from duckdb_behavioral_spark.operators.sequence import sequence_match

        rng = random.Random(4242)
        for pat, k in [("(?1).*(?t<=5)(?2)", 2), ("(?1).*(?2).*(?t<2)(?3)", 3),
                       ("(?1).*(?2).*(?3)", 3)]:
            steps = parse_pattern(pat)
            rows, expect = [], {}
            for g in range(120):
                n = rng.randint(0, 15)
                # sub-second spacing exercises the truncating division
                ts_us = sorted(rng.sample(range(0, 12_000_000, 250_000), n))
                mask = [rng.randrange(1, 1 << k) for _ in range(n)]
                expect[g] = (execute_pattern(steps, ts_us, mask, False) or 0) > 0
                rows.extend(
                    (g, T0 + timedelta(microseconds=u), m) for u, m in zip(ts_us, mask)
                )
            df = spark.createDataFrame(rows, "g long, ts timestamp, m long")
            got = {
                r["g"]: r["matched"]
                for r in sequence_match(
                    df, pat, "ts", [f"(m & {1 << s}) != 0" for s in range(k)], ["g"]
                ).collect()
            }
            assert got == {g: v for g, v in expect.items() if g in got}, pat

    def test_dispatch_and_rejections(self, spark):
        from duckdb_behavioral_spark.kernels.pattern import classify_timed, parse_pattern
        from duckdb_behavioral_spark.operators.sequence import sequence_match

        assert classify_timed(parse_pattern("(?1).*(?t<=3600)(?2)")) == (
            [0, 1], [3_600_999_999])
        # TIME not adjacent to the next COND, adjacency links, lower
        # bounds: all stay on the exact NFA path
        assert classify_timed(parse_pattern("(?1)(?t<=10).*(?2)")) is None
        assert classify_timed(parse_pattern("(?1)(?t<=10)(?2)")) is None
        assert classify_timed(parse_pattern("(?1).*(?t>=10)(?2)")) is None

        # strategy="window" runs the timed chain, equal to the kernel
        df = spark.createDataFrame(
            [(g, T0 + timedelta(seconds=s), m) for g, s, m in [
                (1, 0, 1), (1, 4, 2), (2, 0, 1), (2, 7, 2), (3, 0, 2), (3, 3, 1),
                (4, 0, 1), (4, 6, 1), (4, 9, 2)]],
            "g long, ts timestamp, m long",
        )
        conds = ["(m & 1) != 0", "(m & 2) != 0"]

        def run(pattern, strategy):
            return sorted(map(tuple, sequence_match(
                df, pattern, "ts", conds, ["g"], strategy=strategy).collect()))

        pat = "(?1).*(?t<=5)(?2)"
        assert run(pat, "window") == run(pat, "kernel") == [
            (1, True), (2, False), (3, False), (4, True)]
        # a lower bound is not monotone in the predecessor's time: the
        # window strategy refuses it rather than answer wrongly
        with pytest.raises(ValueError, match="strategy 'window' requires"):
            run("(?1).*(?t>=5)(?2)", "window")

    def test_q6_shape_runs_jvm_only(self, spark):
        from duckdb_behavioral_spark.operators.sequence import sequence_match

        df = spark.createDataFrame(
            [(1, T0, 1), (1, T0 + timedelta(minutes=30), 2)],
            "g long, ts timestamp, m long",
        )
        q = sequence_match(df, "(?1).*(?t<=3600)(?2)", "ts",
                           ["(m & 1) != 0", "(m & 2) != 0"], ["g"])
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "InPandas" not in plan and "ArrowEvalPython" not in plan, plan
        assert q.collect()[0]["matched"] is True


class TestEventsWindow:
    """sequence_match_events wildcard fast path: greedy-earliest
    windows must equal the collecting NFA."""

    def test_randomized_equals_kernel(self, spark):
        import random
        from duckdb_behavioral_spark.kernels.pattern import (
            execute_pattern_events,
            parse_pattern,
        )
        from duckdb_behavioral_spark.operators.sequence import sequence_match_events

        rng = random.Random(77)
        pat, k = "(?1).*(?2).*(?3)", 3
        steps = parse_pattern(pat)
        rows, expect = [], {}
        for g in range(150):
            n = rng.randint(0, 14)
            ts_us = sorted(rng.sample(range(0, 30_000_000, 500_000), n))
            mask = [rng.randrange(1, 1 << k) for _ in range(n)]
            r = execute_pattern_events(steps, ts_us, mask)
            expect[g] = [] if r is None else list(r)
            rows.extend(
                (g, T0 + timedelta(microseconds=u), m) for u, m in zip(ts_us, mask)
            )
        df = spark.createDataFrame(rows, "g long, ts timestamp, m long")
        got = {
            r["g"]: [int((t - T0).total_seconds() * 1_000_000) for t in r["m_ts"]]
            for r in sequence_match_events(
                df, pat, "ts", [f"(m & {1 << s}) != 0" for s in range(k)], ["g"]
            ).collect()
        }
        assert got == {g: v for g, v in expect.items() if g in got}

    def test_partial_match_is_empty_and_kernel_fallback(self, spark):
        from duckdb_behavioral_spark.operators.sequence import sequence_match_events

        df = spark.createDataFrame(
            [(1, T0, 2), (2, T0, 1)], "g long, ts timestamp, m long"
        )
        got = {
            r["g"]: list(r["m_ts"])
            for r in sequence_match_events(
                df, "(?1).*(?2)", "ts", ["(m&1)!=0", "(m&2)!=0"], ["g"]
            ).collect()
        }
        assert got == {1: [], 2: []}
        # adjacent shape must dispatch to the exact kernel
        adj = sequence_match_events(
            df, "(?1)(?2)", "ts", ["(m&1)!=0", "(m&2)!=0"], ["g"]
        )
        assert "InPandas" in adj._jdf.queryExecution().optimizedPlan().toString()
