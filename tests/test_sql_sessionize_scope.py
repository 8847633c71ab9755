"""sessionize … OVER on the SQL surface (sql_surface._rewrite_sessionize).

The call is expanded in place over the statement's own window spec, so
the window sees the rows SQL gives any window in its scope: after
FROM, JOIN, WHERE and GROUP BY. Each statement is checked against the
DataFrame operator or against the same statement with the session ids
computed in a CTE first; statements SQL itself rejects raise Spark's
own analysis error."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import duckdb_behavioral_spark as B

from duckdb_behavioral_spark.sql_surface import behavioral_sql

S = "sessionize(ts, INTERVAL '30 minutes') OVER (PARTITION BY user_id ORDER BY ts)"
SE = (
    "sessionize(e.ts, INTERVAL '30 minutes') "
    "OVER (PARTITION BY e.user_id ORDER BY e.ts)"
)


@pytest.fixture()
def ev(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 00:20:00"),
            (1, "2024-01-01 02:00:00"),
            (2, "2024-01-01 00:00:00"),
        ],
        "user_id long, ts_s string",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    df.createOrReplaceTempView("sess_scope_ev")
    return df


@pytest.mark.parametrize(
    "sql",
    [
        f"SELECT user_id, ts, {S} AS sid FROM sess_scope_ev",
        f"SELECT e.user_id, e.ts, {SE} AS sid FROM sess_scope_ev e",
        f"SELECT e.user_id, e.ts, {SE} AS sid FROM sess_scope_ev AS e",
        f"SELECT user_id, ts, {S} AS sid FROM (SELECT * FROM sess_scope_ev) t",
        "SELECT t.user_id, t.ts, sessionize(t.ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY t.user_id ORDER BY t.ts) AS sid "
        "FROM (SELECT * FROM sess_scope_ev) t",
        f"WITH f AS (SELECT * FROM sess_scope_ev) "
        f"SELECT user_id, ts, {S} AS sid FROM f",
    ],
    ids=["identifier", "alias", "alias_as", "subquery", "subquery_qualified", "cte"],
)
def test_source_shapes_match_operator(spark, ev, sql):
    got = {
        (r["user_id"], r["ts"], r["sid"])
        for r in behavioral_sql(spark, sql).collect()
    }
    want = {
        (r["user_id"], r["ts"], r["session_id"])
        for r in B.sessionize(ev, "ts", "30 minutes", ["user_id"]).collect()
    }
    assert got == want


def test_where_filters_before_window(spark, ev):
    # dropping the 00:10 event must RE-derive gaps on the filtered
    # stream (00:00 -> 00:20 is 20m: same session): SQL evaluates the
    # window after the WHERE
    sql = (
        f"SELECT user_id, ts, {S} AS sid FROM sess_scope_ev "
        "WHERE ts <> TIMESTAMP '2024-01-01 00:10:00'"
    )
    got = {
        (r["user_id"], r["ts"], r["sid"])
        for r in behavioral_sql(spark, sql).collect()
    }
    filtered = ev.where(F.col("ts") != F.lit("2024-01-01 00:10:00").cast("timestamp"))
    want = {
        (r["user_id"], r["ts"], r["session_id"])
        for r in B.sessionize(filtered, "ts", "30 minutes", ["user_id"]).collect()
    }
    assert got == want
    sids = sorted(sid for u, _, sid in got if u == 1)
    assert sids == [1, 1, 2]


def test_where_with_nested_subquery_passes(spark, ev):
    # a JOIN inside a nested subquery of the WHERE condition
    sql = (
        f"SELECT user_id, ts, {S} AS sid FROM sess_scope_ev WHERE user_id IN "
        "(SELECT a.user_id FROM sess_scope_ev a JOIN sess_scope_ev b "
        "ON a.user_id = b.user_id)"
    )
    assert len(behavioral_sql(spark, sql).collect()) == 5


def _rows(spark, sql):
    return sorted(map(tuple, behavioral_sql(spark, sql).collect()))


def test_group_by_rejected_with_cte_hint(spark, ev):
    # the window runs over the grouped rows, as after a CTE that groups
    sql = f"SELECT user_id, {S} AS sid FROM sess_scope_ev GROUP BY user_id, ts"
    cte_form = (
        "WITH g AS (SELECT user_id, ts FROM sess_scope_ev GROUP BY user_id, ts) "
        f"SELECT user_id, {S} AS sid FROM g"
    )
    got = _rows(spark, sql)
    assert got == _rows(spark, cte_form) and len(got) == 5


@pytest.fixture()
def dims(spark):
    spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id long, tier string"
    ).createOrReplaceTempView("sess_scope_dim")


def test_unqualified_join_matches_cte_workaround(spark, ev, dims):
    # the window sees the joined and filtered rows, exactly what the
    # CTE form produces
    join_form = (
        f"SELECT user_id, ts, tier, {S} AS sid "
        "FROM sess_scope_ev JOIN sess_scope_dim USING (user_id) "
        "WHERE tier = 'gold'"
    )
    cte_form = (
        "WITH j AS (SELECT user_id, ts, tier "
        "FROM sess_scope_ev JOIN sess_scope_dim USING (user_id) "
        "WHERE tier = 'gold') "
        f"SELECT user_id, ts, tier, {S} AS sid FROM j"
    )
    got = {tuple(r) for r in behavioral_sql(spark, join_form).collect()}
    want = {tuple(r) for r in behavioral_sql(spark, cte_form).collect()}
    assert got == want and len(got) == 4


def test_qualified_join_matches_cte_workaround(spark, ev, dims):
    # qualified references in the ON-join form equal the CTE form
    join_form = (
        f"SELECT e.user_id, e.ts, d.tier, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id "
        "WHERE d.tier = 'gold'"
    )
    cte_form = (
        "WITH j AS (SELECT e.user_id, e.ts, d.tier "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id "
        "WHERE d.tier = 'gold') "
        f"SELECT user_id, ts, tier, {S} AS sid FROM j"
    )
    got = {tuple(r) for r in behavioral_sql(spark, join_form).collect()}
    want = {tuple(r) for r in behavioral_sql(spark, cte_form).collect()}
    assert got == want and len(got) == 4


def test_qualified_self_join_ambiguous_names_hoist(spark, ev):
    # self-join: BOTH sides expose user_id/ts, so only the qualified
    # names are unambiguous
    sql = (
        f"SELECT e.user_id, e.ts, {SE} AS sid FROM sess_scope_ev e "
        "JOIN sess_scope_ev x ON e.user_id = x.user_id AND e.ts = x.ts"
    )
    got = {tuple(r) for r in behavioral_sql(spark, sql).collect()}
    want = {
        (r["user_id"], r["ts"], r["session_id"])
        for r in B.sessionize(ev, "ts", "30 minutes", ["user_id"]).collect()
    }
    assert got == want


def test_qualified_select_item_after_call_hoists(spark, ev, dims):
    # a qualified item AFTER the call
    sql = (
        f"SELECT {S} AS sid, d.tier "
        "FROM sess_scope_ev a JOIN sess_scope_dim d USING (user_id)"
    )
    rows = behavioral_sql(spark, sql).collect()
    assert len(rows) == 5
    assert {r["tier"] for r in rows} == {"gold", "basic"}


def test_qualified_join_order_by_hoists(spark, ev, dims):
    sql = (
        f"SELECT e.user_id, e.ts, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id "
        "ORDER BY e.user_id, e.ts"
    )
    rows = behavioral_sql(spark, sql).collect()
    assert len(rows) == 5
    assert rows == sorted(rows, key=lambda r: (r["user_id"], r["ts"]))


def test_qualified_function_call_passes_through(spark, ev, dims):
    # a qualified FUNCTION reference resolves from the catalog
    spark.sql(
        "CREATE OR REPLACE FUNCTION sess_scope_plus1(x BIGINT) "
        "RETURNS BIGINT RETURN x + 1"
    )
    try:
        sql = (
            f"SELECT default.sess_scope_plus1(e.user_id) AS uplus, {SE} AS sid "
            "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
        )
        rows = behavioral_sql(spark, sql).collect()
        assert len(rows) == 5
        assert {r["uplus"] for r in rows} == {2, 3}
    finally:
        spark.sql("DROP FUNCTION IF EXISTS sess_scope_plus1")


def test_tbl_star_hoists_as_struct(spark, ev, dims):
    # `e.*` equals the CTE form, with e's column names preserved
    star_form = (
        f"SELECT e.*, d.tier, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id "
        "WHERE d.tier = 'gold'"
    )
    cte_form = (
        "WITH j AS (SELECT e.user_id, e.ts, d.tier "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id "
        "WHERE d.tier = 'gold') "
        f"SELECT user_id, ts, tier, {S} AS sid FROM j"
    )
    got_df = behavioral_sql(spark, star_form)
    assert got_df.columns == ["user_id", "ts", "tier", "sid"]
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in behavioral_sql(spark, cte_form).collect()}
    assert got == want and len(got) == 4


def test_multi_level_star_still_directed_to_cte(spark, ev, dims):
    # `p.props.*` (a struct's fields) beside the call equals the CTE form
    spark.createDataFrame(
        [(u, (f"c{u % 2}",)) for u in range(3)],
        "user_id long, props struct<country:string>",
    ).createOrReplaceTempView("sess_scope_props2")
    sql = (
        f"SELECT e.user_id, p.props.*, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_props2 p "
        "ON e.user_id = p.user_id"
    )
    cte_form = (
        "WITH j AS (SELECT e.user_id, e.ts, p.props "
        "FROM sess_scope_ev e JOIN sess_scope_props2 p "
        "ON e.user_id = p.user_id) "
        f"SELECT user_id, props.*, {S} AS sid FROM j"
    )
    assert behavioral_sql(spark, sql).columns == ["user_id", "country", "sid"]
    got = _rows(spark, sql)
    assert got == _rows(spark, cte_form) and len(got) == 5


def test_uncorrelated_outer_subquery_passes_through(spark, ev, dims):
    # an UNCORRELATED scalar subquery among the select items equals
    # the CTE form
    sql = (
        f"SELECT (SELECT max(tier) FROM sess_scope_dim) AS mt, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
    )
    cte = (
        "WITH j AS (SELECT e.user_id AS uid, e.ts AS ets "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id) "
        "SELECT (SELECT max(tier) FROM sess_scope_dim) AS mt, "
        "sessionize(ets, INTERVAL '30 minutes') "
        "OVER (PARTITION BY uid ORDER BY ets) AS sid FROM j"
    )
    got = sorted(map(tuple, behavioral_sql(spark, sql).collect()))
    want = sorted(map(tuple, behavioral_sql(spark, cte).collect()))
    assert got == want and len(got) == 5


def test_uncorrelated_subquery_with_inner_alias_chain(spark, ev, dims):
    # x.tier names the subquery's own alias
    sql = (
        f"SELECT (SELECT max(x.tier) FROM sess_scope_dim x) AS mt, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
    )
    rows = behavioral_sql(spark, sql).collect()
    assert len(rows) == 5 and {r["mt"] for r in rows} == {"gold"}


def test_bare_name_correlated_subquery_flows_through_star(spark, ev, dims):
    # bare-name correlation: the lookup table has no user_id column,
    # so the bare name binds to the OUTER scope
    spark.createDataFrame(
        [(1, "g1"), (2, "b2")], "uid long, lt string"
    ).createOrReplaceTempView("sess_scope_lk")
    sql = (
        "SELECT user_id, (SELECT max(x.lt) FROM sess_scope_lk x "
        f"WHERE x.uid = user_id) AS mt, {S} AS sid "
        "FROM sess_scope_ev JOIN sess_scope_dim USING (user_id)"
    )
    rows = behavioral_sql(spark, sql).collect()
    assert len(rows) == 5
    assert {(r["user_id"], r["mt"]) for r in rows} == {(1, "g1"), (2, "b2")}


def _correlated_cte_form(inner_source: str) -> str:
    return (
        "WITH s AS (SELECT e.user_id AS uid, e.ts, "
        "sessionize(e.ts, INTERVAL '30 minutes') OVER "
        "(PARTITION BY e.user_id ORDER BY e.ts) AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d "
        "ON e.user_id = d.user_id) "
        f"SELECT (SELECT max(x.tier) FROM {inner_source} x "
        "WHERE x.user_id = s.uid) AS mt, sid FROM s"
    )


def test_outer_alias_correlated_subquery_runs_verbatim(spark, ev, dims):
    # e.user_id inside the subquery is an outer-table-alias
    # correlation; the reference-style correlated report equals the
    # CTE form
    sql = (
        "SELECT (SELECT max(x.tier) FROM sess_scope_dim x "
        f"WHERE x.user_id = e.user_id) AS mt, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
    )
    got = _rows(spark, sql)
    assert got == _rows(spark, _correlated_cte_form("sess_scope_dim")) and len(got) == 5


def test_correlated_subquery_without_resolver_keeps_pointed_error(spark, ev, dims):
    # the pure-string rewrite needs no catalog: its text, run by
    # spark.sql, equals the CTE form
    from duckdb_behavioral_spark.sql_surface import rewrite_behavioral_sql

    sql = (
        "SELECT (SELECT max(x.tier) FROM sess_scope_dim x "
        f"WHERE x.user_id = e.user_id) AS mt, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
    )
    got = sorted(map(tuple, spark.sql(rewrite_behavioral_sql(sql)).collect()))
    assert got == _rows(spark, _correlated_cte_form("sess_scope_dim")) and len(got) == 5


def test_correlated_subquery_shadowed_qualifier_keeps_pointed_error(spark, ev, dims):
    # the subquery's own table carries a column named like the outer
    # alias: SQL resolves the qualifier inner-first, so `e.user_id`
    # reads a field of the bigint column `e` and Spark rejects it
    spark.createDataFrame(
        [(1, 7)], "user_id long, e long"
    ).createOrReplaceTempView("sess_scope_shadow")
    sql = (
        "SELECT (SELECT max(x.e) FROM sess_scope_shadow x "
        f"WHERE x.user_id = e.user_id) AS mt, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
    )
    with pytest.raises(AnalysisException, match="INVALID_EXTRACT_BASE_FIELD_TYPE"):
        behavioral_sql(spark, sql)


def test_correlated_subquery_over_derived_source_keeps_pointed_error(spark, ev, dims):
    # a derived table inside the correlated subquery equals the CTE form
    sql = (
        "SELECT (SELECT max(x.tier) FROM "
        "(SELECT * FROM sess_scope_dim) x "
        f"WHERE x.user_id = e.user_id) AS mt, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
    )
    want = _rows(spark, _correlated_cte_form("(SELECT * FROM sess_scope_dim)"))
    got = _rows(spark, sql)
    assert got == want and len(got) == 5


def test_correlated_subquery_unknown_qualifier_keeps_pointed_error(spark, ev, dims):
    # a qualifier bound nowhere is Spark's unresolved column
    sql = (
        "SELECT (SELECT max(x.tier) FROM sess_scope_dim x "
        f"WHERE x.user_id = zz.user_id) AS mt, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
    )
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        behavioral_sql(spark, sql)


def test_correlated_subquery_two_outer_chains_hoist(spark, ev, dims):
    # a subquery correlating with BOTH join sides.
    # (Spark supports correlated scalar subqueries only in
    # filters/aggregations/projections, so projection position is the
    # whole addressable surface — an ORDER BY correlation fails in
    # Spark's analyzer for the CTE form too.)
    sql = (
        "SELECT e.user_id, "
        "(SELECT max(x.tier) FROM sess_scope_dim x "
        "WHERE x.user_id = e.user_id AND x.tier = d.tier) AS mt, "
        f"{SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
    )
    cte_form = (
        "WITH s AS (SELECT e.user_id AS uid, d.tier AS dt, e.ts, "
        "sessionize(e.ts, INTERVAL '30 minutes') OVER "
        "(PARTITION BY e.user_id ORDER BY e.ts) AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d "
        "ON e.user_id = d.user_id) "
        "SELECT uid AS user_id, "
        "(SELECT max(x.tier) FROM sess_scope_dim x "
        "WHERE x.user_id = s.uid AND x.tier = s.dt) AS mt, sid FROM s"
    )
    got = sorted(map(tuple, behavioral_sql(spark, sql).collect()))
    want = sorted(map(tuple, behavioral_sql(spark, cte_form).collect()))
    assert got == want and len(got) == 5


def test_subquery_in_order_by_passes_through(spark, ev, dims):
    sql = (
        f"SELECT e.user_id, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id "
        "ORDER BY (SELECT count(*) FROM sess_scope_dim) * e.user_id, e.ts"
    )
    rows = behavioral_sql(spark, sql).collect()
    assert [r["user_id"] for r in rows] == [1, 1, 1, 1, 2]


def test_struct_field_chain_hoists(spark, ev, dims):
    # `p.props.country` is a struct path behind a table alias
    spark.createDataFrame(
        [(u, (f"c{u % 2}",)) for u in range(3)],
        "user_id long, props struct<country:string>",
    ).createOrReplaceTempView("sess_scope_props")
    sql = (
        "SELECT e.user_id, p.props.country, "
        "sessionize(e.ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY e.user_id ORDER BY e.ts) AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_props p "
        "ON e.user_id = p.user_id"
    )
    rows = behavioral_sql(spark, sql).collect()
    assert len(rows) == 5
    assert set(behavioral_sql(spark, sql).columns) == {"user_id", "country", "sid"}
    assert {r["country"] for r in rows} == {"c0", "c1"}


def test_qualified_join_inside_cte_body(spark, ev, dims):
    # a sessionize+JOIN inside a CTE body
    sql = (
        "WITH j AS ("
        f"SELECT user_id, ts, tier, {S} AS sid "
        "FROM sess_scope_ev JOIN sess_scope_dim USING (user_id)"
        ") SELECT * FROM j WHERE tier = 'gold'"
    )
    rows = behavioral_sql(spark, sql).collect()
    assert len(rows) == 4
    sql_q = (
        "WITH j AS ("
        f"SELECT e.user_id, e.ts, d.tier, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_dim d ON e.user_id = d.user_id"
        ") SELECT * FROM j WHERE tier = 'gold'"
    )
    assert {tuple(r) for r in behavioral_sql(spark, sql_q).collect()} == {
        tuple(r) for r in rows
    }


def test_qualified_join_inside_from_subquery(spark, ev, dims):
    sql = (
        "SELECT * FROM ("
        f"SELECT user_id, ts, {S} AS sid "
        "FROM sess_scope_ev JOIN sess_scope_dim USING (user_id)"
        ") z"
    )
    assert len(behavioral_sql(spark, sql).collect()) == 5


def test_colliding_hoist_names_directed_to_cte(spark, ev, dims):
    # `p.b_c` and the struct path `p.b.c` side by side equal the CTE form
    spark.createDataFrame(
        [(u, "x", ("y",)) for u in range(3)],
        "user_id long, b_c string, b struct<c:string>",
    ).createOrReplaceTempView("sess_scope_bc")
    sql = (
        f"SELECT p.b_c, p.b.c, {SE} AS sid "
        "FROM sess_scope_ev e JOIN sess_scope_bc p ON e.user_id = p.user_id"
    )
    cte_form = (
        "WITH j AS (SELECT p.b_c, p.b.c, e.user_id, e.ts "
        "FROM sess_scope_ev e JOIN sess_scope_bc p ON e.user_id = p.user_id) "
        f"SELECT b_c, c, {S} AS sid FROM j"
    )
    assert behavioral_sql(spark, sql).columns == ["b_c", "c", "sid"]
    got = _rows(spark, sql)
    assert got == _rows(spark, cte_form) and len(got) == 5


def _operator_rows(df, gap="30 minutes", keys=("user_id",)):
    return {
        (r["user_id"], r["ts"], r["session_id"])
        for r in B.sessionize(df, "ts", gap, list(keys)).collect()
    }


def test_parenthesized_window_spec(spark, ev):
    # the OVER clause ends at its own closing paren, not at the first
    # ')' inside a parenthesized key or order expression; one partition
    # for both users, so user 2's 01:00 event splits user 1's sessions
    ev2 = ev.unionByName(spark.sql(
        "SELECT 2L AS user_id, TIMESTAMP '2024-01-01 01:00:00' AS ts"))
    ev2.createOrReplaceTempView("sess_scope_ev2")
    sql = (
        "SELECT user_id, ts, sessionize(ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY (user_id DIV 10) ORDER BY CAST(ts AS TIMESTAMP)) "
        "AS sid FROM sess_scope_ev2"
    )
    got = {tuple(r) for r in behavioral_sql(spark, sql).collect()}
    assert got == _operator_rows(ev2.withColumn("k", F.expr("user_id DIV 10")), keys=["k"])
    assert got != _operator_rows(ev2)


def test_two_calls_with_different_gaps_and_specs(spark, ev):
    sql = (
        f"SELECT user_id, ts, {S} AS s30, "
        "sessionize(ts, INTERVAL '5 minutes') OVER (ORDER BY ts) AS s5 "
        "FROM sess_scope_ev"
    )
    rows = behavioral_sql(spark, sql).collect()
    assert {(r["user_id"], r["ts"], r["s30"]) for r in rows} == _operator_rows(ev)
    assert {(r["user_id"], r["ts"], r["s5"]) for r in rows} == _operator_rows(
        ev, "5 minutes", keys=[])


def test_timestamp_ntz_column(spark, ev):
    ntz = ev.selectExpr("user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts")
    ntz.createOrReplaceTempView("sess_scope_ntz")
    sql = f"SELECT user_id, ts, {S} AS sid FROM sess_scope_ntz"
    got = {tuple(r) for r in behavioral_sql(spark, sql).collect()}
    assert got == _operator_rows(ntz) and len(got) == 5


@pytest.mark.parametrize("frame", [
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "range between unbounded preceding and current row",
    "ROWS UNBOUNDED PRECEDING",
    "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW",
])
def test_frame_in_spec_rejected(frame):
    # the expansion sets its own frame and its lag takes none, so a
    # user frame is named in the error instead of reaching Spark's
    # parser as a second frame clause
    from duckdb_behavioral_spark.sql_surface import rewrite_behavioral_sql

    sql = ("SELECT sessionize(ts, INTERVAL '30 minutes') "
           f"OVER (PARTITION BY user_id ORDER BY ts {frame}) AS sid FROM t")
    with pytest.raises(ValueError, match=f"no window frame, got {frame.split()[0].upper()}"):
        rewrite_behavioral_sql(sql)


def test_key_named_like_a_frame_unit_expands(spark, ev):
    ev.withColumnRenamed("user_id", "range").createOrReplaceTempView("sess_scope_range")
    sql = ("SELECT range AS user_id, ts, sessionize(ts, INTERVAL '30 minutes') "
           "OVER (PARTITION BY range ORDER BY ts) AS sid FROM sess_scope_range")
    assert {tuple(r) for r in behavioral_sql(spark, sql).collect()} == _operator_rows(ev)
