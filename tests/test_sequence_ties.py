"""Timestamp-tie and NULL-timestamp semantics for the sequence family.

After the loader's ns->us truncation, distinct events can share a
microsecond. The NFA advances by *row*, so equal-timestamp events can
chain; the events-window strategy must therefore also chain through
ties (it compares struct(t, ordinal) lexicographically, not bare t).
Tie ORDER is arbitrary — same as the reference, whose sort tie order
is input order — so these tests pin the deterministic case only: for
freshly-parallelized local data, ``monotonically_increasing_id`` order
is input row order.

Also: a group whose rows all have NULL timestamps must still appear in
the output of every strategy (empty array / false / 0), not vanish.
"""

from datetime import datetime

import duckdb_behavioral_spark as B

T5 = datetime(2024, 1, 1, 0, 0, 5)
T9 = datetime(2024, 1, 1, 0, 0, 9)

SCHEMA = "g int, ts timestamp, c0 boolean, c1 boolean"


def test_events_window_chains_through_tie(spark):
    # c0 then c1 at the same microsecond, in input (= ordinal) order:
    # the chain must pass through the tie and return [t, t].
    df = spark.createDataFrame(
        [(1, T5, True, False), (1, T5, False, True)], SCHEMA
    )
    [row] = B.sequence_match_events(df, "(?1).*(?2)", "ts", ["c0", "c1"], ["g"]).collect()
    assert row.m_ts == [T5, T5]


def test_events_window_tie_order_respected(spark):
    # c1 before c0 at the same microsecond: no c1 strictly after the
    # anchor in (t, ordinal) order -> no match, empty array.
    df = spark.createDataFrame(
        [(1, T5, False, True), (1, T5, True, False)], SCHEMA
    )
    [row] = B.sequence_match_events(df, "(?1).*(?2)", "ts", ["c0", "c1"], ["g"]).collect()
    assert row.m_ts == []


def test_events_window_tie_then_later_event(spark):
    # Anchor strictly earlier than the tie: result is deterministic
    # regardless of tie order at t=5.
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0, 3), True, False),
         (1, T5, False, True),
         (1, T5, True, False),
         (1, T9, False, True)],
        SCHEMA,
    )
    [row] = B.sequence_match_events(df, "(?1).*(?2)", "ts", ["c0", "c1"], ["g"]).collect()
    assert row.m_ts == [datetime(2024, 1, 1, 0, 0, 3), T5]


def test_match_window_consistent_with_events_on_tie(spark):
    # The ADVICE scenario: sequence_match (window strategy, row-advance
    # ROWS frames) finds the tie-chained match; sequence_match_events
    # must not return [] for the same group.
    df = spark.createDataFrame(
        [(1, T5, True, False), (1, T5, False, True), (1, T9, False, True)], SCHEMA
    )
    [m] = B.sequence_match(df, "(?1).*(?2)", "ts", ["c0", "c1"], ["g"],
                           strategy="window").collect()
    [e] = B.sequence_match_events(df, "(?1).*(?2)", "ts", ["c0", "c1"], ["g"]).collect()
    assert m.matched is True
    assert e.m_ts != []


NULLS = [(7, None, True, False), (7, None, False, True)]


def test_all_null_ts_group_present_everywhere(spark):
    df = spark.createDataFrame(NULLS + [(1, T5, True, False), (1, T9, False, True)], SCHEMA)
    conds = ["c0", "c1"]

    for strategy in ("window", "kernel"):
        got = {r.g: r.matched for r in B.sequence_match(
            df, "(?1).*(?2)", "ts", conds, ["g"], strategy=strategy).collect()}
        assert got == {1: True, 7: False}, strategy

    for strategy in ("hof", "kernel"):
        got = {r.g: r.c for r in B.sequence_count(
            df, "(?1).*(?2)", "ts", conds, ["g"], strategy=strategy).collect()}
        assert got == {1: 1, 7: 0}, strategy

    # events: both the window fast path and the kernel path
    for strategy in ("window", "kernel"):
        got = {r.g: list(r.m_ts) for r in B.sequence_match_events(
            df, "(?1).*(?2)", "ts", conds, ["g"], strategy=strategy).collect()}
        assert got == {1: [T5, T9], 7: []}, strategy


def test_all_null_ts_group_present_kernel_complex_pattern(spark):
    # complex pattern forces the NFA kernel for sequence_match too
    df = spark.createDataFrame(NULLS + [(1, T5, True, False), (1, T9, False, True)], SCHEMA)
    got = {r.g: r.matched for r in B.sequence_match(
        df, "(?1)(?t<=10)(?2)", "ts", ["c0", "c1"], ["g"]).collect()}
    assert got == {1: True, 7: False}


def test_all_null_ts_group_present_next_node(spark):
    # the NULL-ts group gets one row with a NULL result, and a NULL-ts
    # row is never the adjacent event: group 1's NULL-ts "x" rows sort
    # first and must not be returned after (forward) or before
    # (backward) the chain
    schema = "g int, ts timestamp, v string, c0 boolean, c1 boolean"
    df = spark.createDataFrame(
        [(7, None, "n", True, False), (7, None, "m", False, True),
         (1, None, "x", True, True), (1, T5, "a", True, False),
         (1, T9, "b", False, True)],
        schema,
    )
    for direction, want in (("forward", "b"), ("backward", None)):
        got = {r.g: r.next_node for r in B.sequence_next_node(
            df, direction, "first_match", "ts", "v", "c0", ["c0"], ["g"]).collect()}
        assert got == {1: want, 7: None}, direction
