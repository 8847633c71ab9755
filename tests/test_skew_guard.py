"""Skew-guard (max_events_per_group) behavior: the guard lives on the
kernel path, which setting it picks when no strategy is given."""

from datetime import datetime, timedelta

import pytest

import duckdb_behavioral_spark as B

T0 = datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def hot_key(spark):
    # one hot user with a late purchase beyond the cap, one normal user
    rows = [(1, T0 + timedelta(seconds=i), "view") for i in range(50)]
    rows.append((1, T0 + timedelta(seconds=100), "purchase"))
    rows += [(2, T0, "view"), (2, T0 + timedelta(seconds=1), "purchase")]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")


CONDS = ["event_type = 'view'", "event_type = 'purchase'"]


# kernel=False leaves the strategy to the operator: the uncapped call
# runs the window path, the capped one the kernel
@pytest.mark.parametrize("kernel", [False, True])
def test_cap_truncates_hot_group(spark, hot_key, kernel):
    strategy = "kernel" if kernel else None
    full = B.window_funnel(hot_key, "1 hour", "ts", CONDS, ["user_id"],
                           strategy=strategy)
    assert {r.user_id: r.step for r in full.collect()} == {1: 2, 2: 2}
    capped = B.window_funnel(hot_key, "1 hour", "ts", CONDS, ["user_id"],
                             strategy=strategy, max_events_per_group=10)
    # hot user's purchase is past the cap → step 1; normal user unaffected
    assert {r.user_id: r.step for r in capped.collect()} == {1: 1, 2: 2}


def test_cap_needs_the_kernel(spark, hot_key):
    # the window path has no cap: asking for one there is an error, not a no-op
    with pytest.raises(ValueError, match="max_events_per_group"):
        B.window_funnel(hot_key, "1 hour", "ts", CONDS, ["user_id"],
                        strategy="window", max_events_per_group=10)
