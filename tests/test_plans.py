"""Physical-plan quality gates — the 100 TB posture, checked in CI.

These assert the *shape* that makes the operators scale: single
shuffle per grouped operator, map-side partial aggregation before the
exchange, pruned parquet scans, broadcast joins for dimensions. If a
refactor regresses one of these, correctness tests stay green but
these fail.
"""

import re

import pytest


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_sessionize_single_exchange_shared_sort(spark, sf):
    from duckdb_behavioral_spark.queries import q1_sessionize

    plan = plan_of(q1_sessionize(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Sort") == 1  # both windows reuse one sort
    # column pruning: scan reads only ts + user_id
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {"ts", "user_id"}


# q1 in the reference dialect, plain and beside a JOIN
Q1_SQL_FORMS = {
    "sql:q1_sessionize": (
        "SELECT user_id, ts, sessionize(ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY user_id ORDER BY ts) AS session_id FROM events"
    ),
    "sql:q1_sessionize_join": (
        "SELECT e.user_id, e.ts, sessionize(e.ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY e.user_id ORDER BY e.ts) AS session_id "
        "FROM events e JOIN (SELECT DISTINCT user_id FROM events) u "
        "ON e.user_id = u.user_id"
    ),
}


def _q1_sql(spark, sf, name):
    from duckdb_behavioral_spark.sources import load_events
    from duckdb_behavioral_spark.sql_surface import behavioral_sql

    load_events(spark, sf).createOrReplaceTempView("events")
    return behavioral_sql(spark, Q1_SQL_FORMS[name])


def test_sessionize_sql_single_exchange_shared_sort(spark, sf):
    """The SQL form of q1 plans as the DataFrame q1 does."""
    plan = plan_of(_q1_sql(spark, sf, "sql:q1_sessionize"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Sort") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {"ts", "user_id"}


def test_funnel_default_is_windowed_single_shuffle(spark, sf):
    from duckdb_behavioral_spark.queries import q3_window_funnel

    plan = plan_of(q3_window_funnel(spark, sf))
    # window strategy: one shuffle on user_id, one sort shared by all k
    # chained window passes, partial aggregation for the final step max,
    # no arrays, no Python.
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Sort") == 1
    assert "Window" in plan and "collect_list" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_funnel_kernel_single_shuffle(spark, sf):
    from duckdb_behavioral_spark.sources import load_events
    import duckdb_behavioral_spark as B

    df = B.window_funnel(
        load_events(spark, sf), "2 hours", "ts",
        ["event_type = 'view'", "event_type = 'click'"], ["user_id"],
        mode="strict_once",
    )
    plan = plan_of(df)
    assert plan.count("Exchange") == 1  # repartition by keys, nothing else
    assert "MapInPandas" in plan
    assert "Sort" in plan  # sortWithinPartitions, no global sort exchange


def test_retention_is_pure_partial_agg(spark, sf):
    from duckdb_behavioral_spark.queries import q2_retention

    plan = plan_of(q2_retention(spark, sf))
    assert "partial_bool_or" in plan or "partial_" in plan
    assert "collect_list" not in plan  # O(1) state, no event materialization
    assert plan.count("Exchange hashpartitioning") == 1


def test_dimension_join_broadcasts(spark, sf):
    from duckdb_behavioral_spark.functions.compositions import q_orders_by_nation

    plan = plan_of(q_orders_by_nation(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, sf):
    from duckdb_behavioral_spark.sources import load_table
    from pyspark.sql import functions as F

    df = load_table(spark, sf, "lineitem").where(F.col("l_quantity") > 40).select(
        "l_orderkey", "l_quantity"
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity,40.0)" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity",
    }


def _toy_embeddings(spark, n, dim=8):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_centroids_fixed_size_and_broadcast(spark):
    """The centroid table is O(NCENT) regardless of corpus size, and
    both the assignment pass and the probe join broadcast it — the
    corpus never shuffles for assignment (the verdict-flagged
    anti-pattern was ncent growing with the corpus)."""
    from duckdb_behavioral_spark.functions import similarity as S
    from pyspark.sql import functions as F

    for n in (100, 1000):
        e = (
            _toy_embeddings(spark, n)
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").cast("array<double>").alias("v"))
            .withColumn("nrm", S._norm(F.col("v")))
            .where(F.col("nrm") > 0)
        )
        assert S._centroids(e).count() == S.NCENT, n

    plan = plan_of(S.ann_ivf_topk(_toy_embeddings(spark, 300)))
    assert "BroadcastExchange" in plan  # probe joins broadcast the O(NCENT) table
    assert "partial_max_by" not in plan
    # round-5 assignment: ONE Arrow-vectorized map pass with the
    # centroid matrix in the UDF closure — no fan-out join, no
    # max_by collapse, no assignment shuffle at all. The full query
    # plan hides it behind the round-7 checkpoint barrier (Scan
    # ExistingRDD), so assert on the assignment stage directly.
    e = (
        _toy_embeddings(spark, 300)
        .select(F.col("vec_id").alias("cid"),
                F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", S._norm(F.col("v")))
        .where(F.col("nrm") > 0)
    )
    state = {
        int(r["ctr_id"]): (list(r["cv"]), float(r["cn"]))
        for r in S._centroids(e).collect()
    }
    aplan = plan_of(S._assign_by_rows(e, state))
    assert "ArrowEvalPython" in aplan
    assert "Exchange" not in aplan  # zero-shuffle map-side pass


# --- round-3 reporting/search layer ---------------------------------------


def test_cohort_matrix_hash_aggs_no_join(spark, sf):
    # distinct pairs + user window-min + two tiny re-aggs; the
    # formulation must NOT self-join, COUNT DISTINCT (no Expand), or
    # fall into ObjectHashAggregate (the collect_set sort-fallback trap)
    from duckdb_behavioral_spark.operators.cohorts import q_cohort_retention

    plan = plan_of(q_cohort_retention(spark, sf))
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoop" not in plan
    assert "Expand" not in plan  # plain COUNT(*), not count-distinct expand
    assert "ObjectHashAggregate" not in plan


def test_last_touch_single_exchange(spark, sf):
    from duckdb_behavioral_spark.operators.attribution import (
        q_attribution_last_touch,
    )

    plan = plan_of(q_attribution_last_touch(spark, sf))
    # window on user_id, then the tiny touch-type agg; no join anywhere
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_bm25_broadcasts_and_single_corpus_scan(spark, sf):
    from duckdb_behavioral_spark.functions.search import q_bm25_topk

    plan = plan_of(q_bm25_topk(spark, sf))
    # single-corpus-scan shape: per_doc is checkpointed (ExistingRDD),
    # the 1-row (n_docs, sum_dl, df_i) stats row joins back as a
    # broadcast CROSS join (BroadcastNestedLoopJoin over one row — the
    # correct plan for a scalar broadcast), and the top-k is
    # TakeOrderedAndProject, not a global rank window
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") <= 1
    assert "TakeOrderedAndProject" in plan


def test_cms_sketch_partial_aggregation(spark, sf):
    # the grid must fold map-side: partial_count before the exchange
    from duckdb_behavioral_spark.functions.cms import cms_sketch
    from duckdb_behavioral_spark.sources import load_events

    plan = plan_of(cms_sketch(load_events(spark, sf), "user_id"))
    assert re.search(r"partial_count", plan)
    assert plan.count("Exchange hashpartitioning") == 1


def test_mix_corpus_broadcast_budgets_single_window(spark, sf):
    from duckdb_behavioral_spark.functions.mixing import q_mix_corpus

    plan = plan_of(q_mix_corpus(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_concurrency_serial_stage_is_hour_grain(spark, sf):
    # the single-partition window must be fed by the per-hour TOTALS
    # (tiny), not the raw boundary events: exactly one SinglePartition
    # exchange, placed after the hour aggregation
    from duckdb_behavioral_spark.operators.concurrency import (
        q_session_concurrency,
    )

    plan = plan_of(q_session_concurrency(spark, sf))
    assert plan.count("Exchange SinglePartition") == 1
    i_agg = plan.index("hashpartitioning(hour")
    i_single = plan.index("Exchange SinglePartition")
    assert i_single < i_agg  # executedPlan prints top-down: serial stage consumes the hour agg


def test_tpch_q5_broadcasts_dims_and_pushes_filters(spark, sf):
    from duckdb_behavioral_spark.functions.compositions import (
        q_tpch_q5_region_revenue,
    )

    plan = plan_of(q_tpch_q5_region_revenue(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region
    # the region-name filter reaches the region scan, not a post-join Filter
    assert re.search(r"PushedFilters: \[.*EqualTo\(r_name,ASIA\)", plan)


def test_tpch_q3_segment_filter_pushed(spark, sf):
    from duckdb_behavioral_spark.functions.compositions import q_tpch_q3_topk

    plan = plan_of(q_tpch_q3_topk(spark, sf))
    assert re.search(r"PushedFilters: \[.*EqualTo\(c_mktsegment,BUILDING\)", plan)


def test_tpch_q6_filters_pushed_no_shuffle_of_rows(spark, sf):
    # every Q6 predicate reaches the lineitem scan; the only exchange
    # is the 1-row partial-aggregate fold
    from duckdb_behavioral_spark.functions.compositions import q_tpch_q6_revenue

    df = q_tpch_q6_revenue(spark, sf)
    plan = plan_of(df)
    # executedPlan().toString() truncates the long filter list — read
    # the full scan node from the formatted explain
    fmt = df._sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", fmt)
    assert re.search(r"PushedFilters: \[.*LessThan\(l_quantity,24\.0\)", fmt)
    assert plan.count("Exchange") == 1
    assert "Exchange SinglePartition" in plan  # the 1-row final agg


def test_tpch_q10_broadcast_nation_topk_no_global_sort(spark, sf):
    from duckdb_behavioral_spark.functions.compositions import (
        q_tpch_q10_returned_topk,
    )

    plan = plan_of(q_tpch_q10_returned_topk(spark, sf))
    assert "BroadcastHashJoin" in plan  # nation
    assert re.search(r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)", plan)
    # top-20 via per-task heaps, not a global sort of the aggregate
    assert "TakeOrderedAndProject" in plan


def test_tpch_q4_is_left_semi_no_row_multiplication(spark, sf):
    # EXISTS must compile to a semi join (stop at first match), not an
    # inner join + distinct that materializes every matching line
    from duckdb_behavioral_spark.functions.tpch_extra import q_tpch_q4_late_orders

    plan = plan_of(q_tpch_q4_late_orders(spark, sf))
    assert "LeftSemi" in plan
    assert "Aggregate" not in plan.split("LeftSemi")[1].split("Scan")[0]


def test_customers_inactive_is_left_anti(spark, sf):
    # NOT EXISTS must compile to an anti join, never a
    # BroadcastNestedLoop null-semantics rewrite or a left join + filter
    from duckdb_behavioral_spark.functions.tpch_extra import q_customers_inactive

    plan = plan_of(q_customers_inactive(spark, sf))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoop" not in plan


def test_tpch_q18_having_prunes_before_joins(spark, sf):
    # the qty HAVING runs on the lineitem aggregate BEFORE orders/
    # customer join it, and the top-100 is per-task heaps
    from duckdb_behavioral_spark.functions.tpch_extra import (
        q_tpch_q18_large_orders,
    )

    df = q_tpch_q18_large_orders(spark, sf)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # optimized plan: Filter(sum > T) sits under the joins, directly
    # over the per-orderkey Aggregate
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    join_pos = opt.find("Join")
    filt_pos = opt.find("Filter (")
    agg_pos = opt.rfind("Aggregate")
    assert -1 < join_pos < opt.find("sum(")  # sum filter below the joins
    assert agg_pos > join_pos


def test_tpch_q14_single_pass_conditional_agg(spark, sf):
    # promo/total both fold from the SAME joined rows: one lineitem
    # scan, one part scan, no self-join or union of two aggregates
    from duckdb_behavioral_spark.functions.tpch_extra import q_tpch_q14_promo

    plan = plan_of(q_tpch_q14_promo(spark, sf))
    assert plan.count("Scan parquet") == 2
    assert "Union" not in plan


def test_no_duplicated_expensive_subtree_after_barriers(spark, sf):
    """Round-10 recompute sweep (VERDICT r9 #1/#2): queries whose
    expensive derived lineage feeds multiple consumers must hide it
    behind a localCheckpoint barrier — the final plan then shows ZERO
    parquet scans of the base table (all consumers read the barrier's
    ExistingRDD) and no duplicated tokenize/explode or distinct-shuffle
    subtrees. The r12 in-array pairing rework introduced LEGITIMATE
    post-barrier explodes (grouped member arrays generating pairs in
    place — dedup.bucket_pairs / basket pair generation; since r13
    those run as chained codegen'd posexplodes, counted separately);
    with the scan count pinned at zero those generates can only read
    the barrier, so each query pins its expected (explode, posexplode)
    counts instead of zero: a duplicated subtree would double them and
    still fail."""
    from duckdb_behavioral_spark.functions.basket import q_orders_market_basket
    from duckdb_behavioral_spark.functions.corpus import q_term_cooccurrence
    from duckdb_behavioral_spark.functions.dedup_eval import (
        q_dedup_incremental_newdocs,
        q_dedup_lsh_recall_eval,
    )
    from duckdb_behavioral_spark.functions.lm_score import q_text_lm_likelihood

    for fn, table, n_explodes, n_posexplodes in (
        (q_text_lm_likelihood, "documents", 0, 0),
        # basket: the item-count explode planned once per confidence
        # join side + the 2-generate pair device (all over the basket
        # barrier)
        (q_orders_market_basket, "lineitem", 2, 2),
        (q_term_cooccurrence, "documents", 0, 0),
        (q_dedup_lsh_recall_eval, "documents", 0, 0),
        # incremental: the bucket-local new x old chained explodes
        (q_dedup_incremental_newdocs, "documents", 2, 0),
    ):
        plan = plan_of(fn(spark, sf))
        # the expensive scan ran once, behind the barrier: consumers
        # see only ExistingRDD, never a re-planned parquet scan
        assert f"{table}.parquet" not in plan, fn.__name__
        assert plan.count("Generate explode") == n_explodes, fn.__name__
        assert plan.count("Generate posexplode") == n_posexplodes, fn.__name__
        assert "Scan ExistingRDD" in plan, fn.__name__


def _duplicated_window_functions(df) -> list:
    """Window functions that one Window node of the optimized plan
    evaluates more than once. Catalyst does not merge two equal window
    expressions, so a Column reused in one expression (a ``lag`` tested
    and then subtracted, a running max tested and then returned) is
    computed twice per row."""
    dups, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
        if node.nodeName() != "Window":
            continue
        seen = set()
        exprs = node.windowExpressions()
        for i in range(exprs.size()):
            fn = exprs.apply(i).child().canonicalized().toString()
            if fn in seen:
                dups.append(fn)
            seen.add(fn)
    return dups


# every declared query with a window over the events, by its key in
# __spark_entry__.queries()
WINDOWED_QUERIES = [
    "q1_sessionize", "q2_retention", "q3_window_funnel", "q4_window_funnel_modes",
    "q5_sequence_match_adjacent", "q6_sequence_match_time", "q7_sequence_count",
    "q8_sequence_match_events", "q9_next_node_forward", "q10_next_node_backward",
    "q11_session_stats", "q12_funnel_dropoff", "q13_funnel_strict",
    "q14_funnel_strict_order", "q15_funnel_timestamp_dedup",
    "q16_funnel_allow_reentry", "q17_session_quantiles", "q18_session_paths",
    "sequence_time_gate_mix", "user_state_scd2", "scd2_point_in_time",
    "scd2_snapshot_diff", "session_hard_cap", "session_trigrams_topk",
]


@pytest.mark.parametrize("name", WINDOWED_QUERIES + list(Q1_SQL_FORMS))
def test_each_window_function_evaluated_once(spark, sf, name):
    import __spark_entry__ as entry

    df = _q1_sql(spark, sf, name) if name in Q1_SQL_FORMS else entry.queries()[name](spark, sf)
    dups = _duplicated_window_functions(df)
    assert dups == [], f"{name} evaluates these window functions twice: {dups}"


def _rows(df):
    """The rows of ``df`` as a multiset; arrays become tuples."""
    from collections import Counter

    return Counter(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                   for r in df.collect())


def test_column_inputs_match_sql_text_inputs(spark, sf):
    """The operators build SQL text; a Column input (ts, condition,
    value) is aliased once and named in the text, so it gives the same
    rows as its SQL-text form and still evaluates each window once."""
    from pyspark.sql import functions as F

    import duckdb_behavioral_spark as B
    from duckdb_behavioral_spark.sources import load_events

    ev = load_events(spark, sf)
    kinds = ("view", "click", "purchase")
    text = [f"event_type = '{k}'" for k in kinds]
    cols = [F.col("event_type") == k for k in kinds]
    ts = F.col("ts")

    def forms(build):
        return build("ts", text, "event_type"), build(ts, cols, F.col("event_type"))

    cases = [
        forms(lambda t, c, v: ev.select(
            "user_id", "ts",
            B.sessionize_col(t, "30 minutes",
                             ["user_id" if isinstance(t, str) else F.col("user_id")])
            .alias("sid"))),
        forms(lambda t, c, v: B.window_funnel(ev, "1 hour", t, c, ["user_id"])),
        forms(lambda t, c, v: B.window_funnel(ev, "1 hour", t, c, ["user_id"],
                                              mode="strict_increase")),
        forms(lambda t, c, v: B.window_funnel(ev, "1 hour", t, c, ["user_id"],
                                              mode="allow_reentry")),
        forms(lambda t, c, v: B.sequence_next_node(
            ev, "forward", "first_match", t, v, c[0], c[:2], ["user_id"])),
        *[forms(lambda t, c, v, p=p: B.sequence_match(ev, p, t, c, ["user_id"]))
          for p in ("(?1)(?3)", "(?1).*(?2).*(?3)", "(?1).*(?t<=3600)(?3)")],
        *[forms(lambda t, c, v, p=p: B.sequence_count(ev, p, t, c, ["user_id"]))
          for p in ("(?1)(?3)", "(?1).*(?3)")],
        forms(lambda t, c, v: B.sequence_match_events(ev, "(?1).*(?3)", t, c, ["user_id"])),
    ]
    for text_form, col_form in cases:
        assert _duplicated_window_functions(col_form) == []
        assert _rows(col_form) == _rows(text_form)


def test_empty_partition_keys_mean_one_partition(spark, sf):
    """With no partition keys the SQL text has no PARTITION BY clause:
    the whole input is one partition, as a constant key makes it."""
    from pyspark.sql import functions as F

    import duckdb_behavioral_spark as B
    from duckdb_behavioral_spark.sources import load_events

    ev = load_events(spark, sf).withColumn("k", F.lit(1))
    conds = ["event_type = 'view'", "event_type = 'click'", "event_type = 'purchase'"]

    for ts in ("ts", F.col("ts")):
        assert _rows(ev.select("ts", B.sessionize_col(ts, "30 minutes", []))) == _rows(
            ev.select("ts", B.sessionize_col(ts, "30 minutes", ["k"])))
    for mode in ("", "strict_increase"):
        assert _rows(B.window_funnel(ev, "1 hour", "ts", conds, [], mode=mode)) == _rows(
            B.window_funnel(ev, "1 hour", "ts", conds, ["k"], mode=mode).drop("k"))
    for fn, pattern in (
        (B.sequence_match, "(?1)(?2)"), (B.sequence_match, "(?1).*(?2).*(?3)"),
        (B.sequence_match, "(?1).*(?t<=3600)(?3)"), (B.sequence_count, "(?1)(?2)"),
        (B.sequence_count, "(?1).*(?3)"), (B.sequence_match_events, "(?1).*(?3)"),
    ):
        assert _rows(fn(ev, pattern, "ts", conds, [])) == _rows(
            fn(ev, pattern, "ts", conds, ["k"]).drop("k")), (fn.__name__, pattern)


def test_condition_bitmask_text_and_column_forms_agree(spark, sf):
    """SQL-text conditions give a SQL-text mask; Column (or mixed)
    conditions give a Column mask with the same bits, NULL as false."""
    from pyspark.sql import functions as F

    from duckdb_behavioral_spark.operators import condition_bitmask
    from duckdb_behavioral_spark.sources import load_events

    ev = load_events(spark, sf)
    text = ["event_type = 'view'", "event_type = 'click'", "CAST(NULL AS BOOLEAN)"]
    cols = [F.expr(c) for c in text]
    as_text = condition_bitmask(text)
    assert isinstance(as_text, str)
    got = ev.select(
        F.expr(as_text).alias("t"),
        condition_bitmask(cols).alias("c"),
        condition_bitmask([text[0], cols[1], text[2]]).alias("x"),
    ).collect()
    assert got and all(r.t == r.c == r.x for r in got)
    assert {r.t for r in got} <= {0, 1, 2}
