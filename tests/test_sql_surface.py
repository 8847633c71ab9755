"""The registered SQL functions must reproduce the operator results."""

import pytest
from pyspark.sql import functions as F

import duckdb_behavioral_spark as B
from duckdb_behavioral_spark.sql import register


@pytest.fixture(scope="module")
def sql_events(spark, sf_dir):
    from duckdb_behavioral_spark.sources import load_events

    register(spark)
    load_events(spark, sf_dir).createOrReplaceTempView("ev_sql")


GROUPED = """
WITH g AS (
  SELECT user_id,
         sort_array(collect_list(struct(unix_micros(ts) AS t,
           CAST(CASE WHEN event_type = 'view' THEN 1
                     WHEN event_type = 'click' THEN 2
                     WHEN event_type = 'purchase' THEN 4
                     ELSE 0 END AS BIGINT) AS m))) AS ev
  FROM ev_sql GROUP BY user_id)
"""


def test_wf_step_sql(spark, sf_dir, sql_events):
    got = spark.sql(
        GROUPED
        + """
        SELECT user_id, wf_step(3600000000, '', transform(ev, x -> x.t),
                                transform(ev, x -> x.m), 3) AS step
        FROM g"""
    )
    from duckdb_behavioral_spark.sources import load_events

    want = B.window_funnel(
        load_events(spark, sf_dir), "1 hour", "ts",
        ["event_type = 'view'", "event_type = 'click'", "event_type = 'purchase'"],
        ["user_id"],
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


GROUPED2 = """
WITH g AS (
  SELECT user_id,
         sort_array(collect_list(struct(unix_micros(ts) AS t,
           CAST(CASE WHEN event_type = 'view' THEN 1
                     WHEN event_type = 'purchase' THEN 2
                     ELSE 0 END AS BIGINT) AS m))) AS ev
  FROM ev_sql GROUP BY user_id)
"""


def test_seq_match_and_count_sql(spark, sf_dir, sql_events):
    got = spark.sql(
        GROUPED2
        + """
        SELECT user_id,
               seq_match('(?1)(?2)', transform(ev, x -> x.t), transform(ev, x -> x.m)) AS m,
               seq_count('(?1).*(?2)', transform(ev, x -> x.t), transform(ev, x -> x.m)) AS c
        FROM g"""
    )
    from duckdb_behavioral_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    conds = ["event_type = 'view'", "event_type = 'purchase'"]
    m = B.sequence_match(ev, "(?1)(?2)", "ts", conds, ["user_id"], out="m")
    c = B.sequence_count(ev, "(?1).*(?2)", "ts", conds, ["user_id"], out="c")
    want = m.join(c, "user_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_retention_empty_input_is_empty_list(spark):
    # reference test/sql/retention.test:58-62: an empty group gives []
    from duckdb_behavioral_spark.sql_surface import behavioral_sql

    empty = spark.createDataFrame([], "a boolean, b boolean")
    empty.createOrReplaceTempView("ret_empty")
    assert empty.agg(B.retention_col(["a", "b"]).alias("r")).first()["r"] == []
    assert behavioral_sql(spark, "SELECT retention(a, b) AS r FROM ret_empty").first()["r"] == []


@pytest.mark.parametrize("n", [1, 2, 32, 33])
def test_retention_takes_2_to_32_conditions(spark, n):
    from duckdb_behavioral_spark.sql_surface import rewrite_behavioral_sql

    conds = ["a"] * n
    sql = f"SELECT retention({', '.join(conds)}) FROM t"
    if 2 <= n <= 32:
        B.retention_col(conds)
        assert "retention" not in rewrite_behavioral_sql(sql)
        return
    with pytest.raises(ValueError, match=r"2\.\.32"):
        B.retention_col(conds)
    with pytest.raises(ValueError, match=r"2\.\.32"):
        rewrite_behavioral_sql(sql)


@pytest.mark.parametrize("call", [
    "window_funnel(INTERVAL '1 hour', ts, event_type = 'view', event_type = 'click', "
    "event_type = 'purchase')",
    "sequence_match('(?1).*(?t<=3600)(?2)', ts, event_type = 'view', "
    "event_type = 'purchase')",
    "sequence_count('(?1).*(?2)', ts, event_type = 'view', event_type = 'purchase')",
    "sequence_match_events('(?1).*(?2)', ts, event_type = 'view', "
    "event_type = 'purchase')",
    "sequence_next_node('forward', 'first_match', ts, event_type, "
    "event_type = 'signup', event_type = 'signup', event_type = 'view')",
], ids=["window_funnel", "sequence_match", "sequence_count", "sequence_match_events",
        "sequence_next_node"])
def test_aggregate_forms_on_timestamp_ntz(spark, sql_events, call):
    """A TIMESTAMP_NTZ ts column (parquet written with
    isAdjustedToUTC=false) gives the TIMESTAMP column's result: the
    rewrite reads event time through ``sqltext.event_micros``."""
    from duckdb_behavioral_spark.sql_surface import behavioral_sql

    spark.table("ev_sql").withColumn("ts", F.expr("CAST(ts AS TIMESTAMP_NTZ)")) \
        .createOrReplaceTempView("ev_sql_ntz")

    def rows(view):
        return sorted(map(tuple, behavioral_sql(
            spark, f"SELECT user_id, {call} AS r FROM {view} GROUP BY user_id").collect()))

    want = rows("ev_sql")
    assert want and rows("ev_sql_ntz") == want
