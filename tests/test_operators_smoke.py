"""Spark-side smoke + semantics tests for the behavioral operators on
small in-memory frames (cross-checks JVM fast paths against kernels).
"""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

import duckdb_behavioral_spark as B

T0 = datetime(2024, 1, 1, 0, 0, 0)


def ts(seconds):
    return T0 + timedelta(seconds=seconds)


def make_events(spark, rows):
    """rows: (user, secs, etype)"""
    return spark.createDataFrame(
        [(u, ts(s), e) for u, s, e in rows], "user_id long, ts timestamp, event_type string"
    )


class TestSessionize:
    def test_basic_sessions(self, spark):
        df = make_events(
            spark,
            [(1, 0, "a"), (1, 60, "a"), (1, 4000, "a"), (1, 4100, "a"), (2, 0, "a")],
        )
        got = {
            (r.user_id, r.ts): r.session_id
            for r in B.sessionize(df, "ts", "30 minutes", ["user_id"]).collect()
        }
        assert got[(1, ts(0))] == 1
        assert got[(1, ts(60))] == 1
        assert got[(1, ts(4000))] == 2
        assert got[(1, ts(4100))] == 2
        assert got[(2, ts(0))] == 1

    def test_gap_exactly_at_threshold_same_session(self, spark):
        # strict >: gap == threshold stays in the session
        df = make_events(spark, [(1, 0, "a"), (1, 1800, "a")])
        rows = B.sessionize(df, "ts", "30 minutes", ["user_id"]).collect()
        assert {r.session_id for r in rows} == {1}

    def test_gap_one_us_past_threshold_new_session(self, spark):
        df = spark.createDataFrame(
            [(1, T0), (1, T0 + timedelta(minutes=30, microseconds=1))],
            "user_id long, ts timestamp",
        )
        rows = B.sessionize(df, "ts", "30 minutes", ["user_id"]).orderBy("ts").collect()
        assert [r.session_id for r in rows] == [1, 2]

    def test_null_ts_rows_get_null_but_dont_break_sessions(self, spark):
        df = spark.createDataFrame(
            [(1, T0), (1, None), (1, T0 + timedelta(hours=2))],
            "user_id long, ts timestamp",
        )
        rows = B.sessionize(df, "ts", "30 minutes", ["user_id"]).collect()
        by_ts = {r.ts: r.session_id for r in rows}
        assert by_ts[None] is None
        assert by_ts[T0] == 1
        assert by_ts[T0 + timedelta(hours=2)] == 2

    def test_month_interval_rejected(self, spark):
        df = make_events(spark, [(1, 0, "a")])
        with pytest.raises(ValueError):
            B.sessionize(df, "ts", "1 month", ["user_id"])


class TestRetention:
    def test_basic(self, spark):
        df = make_events(spark, [(1, 0, "signup"), (1, 10, "view"), (2, 0, "view")])
        conds = ["event_type = 'signup'", "event_type = 'view'", "event_type = 'purchase'"]
        got = {r.user_id: r.r for r in B.retention(df, conds, ["user_id"]).collect()}
        assert got[1] == [True, True, False]
        # anchor false ⇒ all false
        assert got[2] == [False, False, False]


class TestWindowFunnel:
    CONDS = ["event_type = 'view'", "event_type = 'click'", "event_type = 'purchase'"]

    def rows(self):
        return [
            (1, 0, "view"), (1, 60, "click"), (1, 120, "purchase"),      # full funnel
            (2, 0, "view"), (2, 60, "click"), (2, 7200, "purchase"),     # 3rd outside 1h
            (3, 0, "click"), (3, 60, "purchase"),                        # no entry
            (4, 0, "view"),                                              # entry only
        ]

    # kernel=False leaves the strategy to the operator (here: window)
    @pytest.mark.parametrize("kernel", [False, True])
    def test_default_mode(self, spark, kernel):
        df = make_events(spark, self.rows())
        got = {
            r.user_id: r.step
            for r in B.window_funnel(
                df, "1 hour", "ts", self.CONDS, ["user_id"],
                strategy="kernel" if kernel else None,
            ).collect()
        }
        assert got == {1: 3, 2: 2, 3: 0, 4: 1}

    def test_window_matches_kernel_on_modes_equivalent_data(self, spark):
        df = make_events(spark, self.rows())
        a = B.window_funnel(df, "1 hour", "ts", self.CONDS, ["user_id"], strategy="window")
        b = B.window_funnel(df, "1 hour", "ts", self.CONDS, ["user_id"], strategy="kernel")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_strict_increase_once(self, spark):
        df = make_events(spark, self.rows())
        got = {
            r.user_id: r.step
            for r in B.window_funnel(
                df, "2 hours", "ts", self.CONDS, ["user_id"],
                mode="strict_increase, strict_once",
            ).collect()
        }
        assert got == {1: 3, 2: 3, 3: 0, 4: 1}


class TestSequence:
    CONDS = ["event_type = 'view'", "event_type = 'purchase'"]

    def rows(self):
        return [
            (1, 0, "view"), (1, 10, "purchase"),                 # adjacent (filtered stream)
            (2, 0, "view"), (2, 10, "click"), (2, 20, "purchase"),  # click filtered out → adjacent
            (3, 0, "purchase"), (3, 10, "view"),                 # wrong order
            (4, 0, "view"), (4, 10, "view"), (4, 20, "purchase"),   # v v p → not adjacent v,p? v@10,p@20 adjacent
        ]

    # kernel=False leaves the strategy to the operator (match: window,
    # count: hof)
    @pytest.mark.parametrize("kernel", [False, True])
    def test_adjacent_match(self, spark, kernel):
        df = make_events(spark, self.rows())
        got = {
            r.user_id: r.matched
            for r in B.sequence_match(
                df, "(?1)(?2)", "ts", self.CONDS, ["user_id"],
                strategy="kernel" if kernel else None,
            ).collect()
        }
        assert got == {1: True, 2: True, 3: False, 4: True}

    @pytest.mark.parametrize("kernel", [False, True])
    def test_wildcard_count(self, spark, kernel):
        rows = [(1, i * 10, "view" if i % 2 == 0 else "purchase") for i in range(6)]
        rows += [(2, 0, "purchase"), (2, 10, "view")]
        df = make_events(spark, rows)
        got = {
            r.user_id: r.c
            for r in B.sequence_count(
                df, "(?1).*(?2)", "ts", self.CONDS, ["user_id"],
                strategy="kernel" if kernel else None,
            ).collect()
        }
        assert got == {1: 3, 2: 0}

    def test_time_constraint_nfa(self, spark):
        rows = [(1, 0, "view"), (1, 1800, "purchase"),
                (2, 0, "view"), (2, 7200, "purchase")]
        df = make_events(spark, rows)
        got = {
            r.user_id: r.matched
            for r in B.sequence_match(
                df, "(?1).*(?t<=3600)(?2)", "ts", self.CONDS, ["user_id"]
            ).collect()
        }
        assert got == {1: True, 2: False}

    def test_match_events(self, spark):
        df = make_events(
            spark, [(1, 0, "view"), (1, 10, "click"), (1, 20, "purchase"), (2, 0, "click")]
        )
        got = {r.user_id: r.m_ts for r in B.sequence_match_events(
            df, "(?1).*(?2)", "ts", self.CONDS, ["user_id"]).collect()}
        assert got[1] == [ts(0), ts(20)]
        assert got[2] == []


@pytest.mark.parametrize("fn,strategy", [
    ("window_funnel", "hof"), ("window_funnel", "bogus"),
    ("sequence_match", "hof"), ("sequence_match", "window_timed"),
    ("sequence_match", "bogus"),
    ("sequence_match_events", "hof"), ("sequence_match_events", "bogus"),
    ("sequence_count", "window"),
])
def test_unknown_strategy_raises(spark, fn, strategy):
    # an unknown strategy must not fall through to the Python kernel
    df = make_events(spark, [(1, 0, "view")])
    conds = ["event_type = 'view'", "event_type = 'purchase'"]
    if fn == "window_funnel":
        call = lambda: B.window_funnel(df, "1 hour", "ts", conds, ["user_id"],
                                       strategy=strategy)
    else:
        call = lambda: getattr(B, fn)(df, "(?1).*(?2)", "ts", conds, ["user_id"],
                                      strategy=strategy)
    with pytest.raises(ValueError, match=f"{fn} strategy must be one of"):
        call()


class TestSequenceNextNode:
    def test_forward_first_match(self, spark):
        df = make_events(
            spark,
            [(1, 0, "signup"), (1, 10, "view"), (1, 20, "purchase"), (2, 0, "view")],
        )
        got = {
            r.user_id: r.next_node
            for r in B.sequence_next_node(
                df, "forward", "first_match", "ts", "event_type",
                "event_type = 'signup'",
                ["event_type = 'signup'", "event_type = 'view'"],
                ["user_id"],
            ).collect()
        }
        assert got == {1: "purchase", 2: None}
