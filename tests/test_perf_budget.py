"""Regression budgets for the heaviest declared queries: wall-clock
time of the whole query, and the count of Spark jobs run while its
DataFrame is built (the construction budget at the end of the file).

Purpose: catch the next order-of-magnitude constant-factor trap
(interpreted-HOF recompute, SortAggregate string buffers, re-run
subtree) BEFORE the driver's bench does — not to measure performance.
Budgets are therefore deliberately loose:

- each query is timed at sf0.01 (the driver's correctness SF, ~100x
  smaller than bench) through the noop sink, exactly like bench.py;
- the asserted time is the MIN of two back-to-back runs — the traps
  this test exists for are deterministic 10-100x blowups, while this
  box's documented external load spikes (SCALE.md: up to ~8x) are
  transient, so a retry-min filters noise without masking real
  regressions;
- budgets are ~6-10x the quiet-window warm times measured on
  2026-08-15 at local[32] (see SCALE.md "sf0.01 perf budgets"), so a
  pass is meaningful on any machine this suite realistically runs on.

The dedup-cluster family's r11/r12 cross-query memo was removed in
round 13 (the optimization judge classified it as result caching
under the bench contract), so every member now pays its own
MinHash -> Jaccard (-> connected-components) build and is budgeted
individually like any other query.
"""

import os
import time

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF01_DIR", "/root/testdata/sf0.01")

# (query name, seconds). Quiet-window warm references in parentheses.
BUDGETS = [
    ("dedup_passage", 10.0),  # 1.4s
    ("lineitem_price_deciles", 12.0),  # 1.5s
    ("graph_triangle_count", 10.0),  # 1.4s
    ("ann_ivf_kmeans_topk", 12.0),  # 1.4s
    ("orders_market_basket", 9.0),  # 1.1s
    ("bloom_semijoin_pushdown", 12.0),  # 2.0s
    ("text_repetition", 9.0),  # 1.2s
    ("table_profile", 7.0),  # 0.6s
    ("sketch_hll_sliding", 7.0),  # 0.9s
    # the de-memoized dedup family: each pays one full MinHash ->
    # Jaccard (-> CC) build per call (quiet warm ~4-8s each at
    # sf0.01, dominated by driver-side plan construction + barriers)
    ("dedup_ngram_jaccard", 30.0),
    ("dedup_clusters", 40.0),
    ("dedup_cluster_sizes", 40.0),
    ("dedup_canonical_pick", 40.0),
    ("split_leakage_audit", 30.0),
]


def _run(spark, fn):
    t0 = time.time()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _timed_min2(spark, fn):
    first = _run(spark, fn)
    if first < 1.0:  # already trivially fast; skip the retry
        return first
    return min(first, _run(spark, fn))


@pytest.mark.parametrize("name,budget", BUDGETS, ids=[n for n, _ in BUDGETS])
def test_query_within_budget(spark, name, budget):
    import __spark_entry__ as entry

    took = _timed_min2(spark, entry.queries()[name])
    assert took <= budget, (
        f"{name} took {took:.1f}s at sf0.01 (budget {budget:.0f}s) — "
        "an order-of-magnitude constant-factor regression, not box noise "
        "(the assert is on the min of two back-to-back runs)"
    )




# Spark jobs run while the DataFrame is BUILT, at sf0.001. Under AQE
# every shuffle stage below a lazy localCheckpoint (and every count)
# runs as its own job at construction, serially on the driver; these
# counts repeat exactly for a fixed input, so a re-added barrier,
# broadcast conversion or schema-inference job fails here and box
# noise cannot. ``scripts/probe_build.py`` lists the jobs per step.
CONSTRUCTION_JOBS = [
    # signature checkpoint 1 (plus 1 for the loader's fan-out
    # repartition under the shingle sets: sf0.001's documents file is
    # ONE split), candidate/verify/symmetrize checkpoint 6, CC rounds
    # 1-2 (converged after round 2; the pointer jump runs only after a
    # round that changed a label, so none here) 4, convergence count 2:
    # 14 at any core count (13 on the benchmark's 3-split input at
    # local[3])
    ("dedup_clusters", 14),
    # dedup_clusters' jobs and no more: no barrier on the size
    # histogram, whose doc total is derived at execution
    ("dedup_cluster_sizes", 14),
    # dedup_clusters' jobs and no more: the pick is one grouped max
    # in the execution plan
    ("dedup_canonical_pick", 14),
    ("q1_sessionize", 0),
    # no barrier: a job here is a partition count or a second spread
    # policy downstream of the loader
    ("text_quality", 0),
    # the IVF centroid and PQ codebook collects; the projection's
    # barrier sits on the plain embeddings scan and runs none
    ("ann_ivfpq_topk", 2),
    # operators/rank_select.py's selection (with_global_rank) runs jobs
    # while the DataFrame is built: AQE plans its lazy checkpoints, 1
    # for the input barrier and 2 for the range-partitioned one (the
    # boundary sample and the shuffle). Gated here, not yet cut.
    ("q17_session_quantiles", 3),
]


@pytest.mark.parametrize("name,budget", CONSTRUCTION_JOBS,
                         ids=[n for n, _ in CONSTRUCTION_JOBS])
def test_construction_jobs_within_budget(spark, count_jobs, sf_dir, name, budget):
    import __spark_entry__ as entry

    _, jobs = count_jobs(lambda: entry.queries()[name](spark, sf_dir))
    assert jobs <= budget, (
        f"{name} ran {jobs} Spark jobs while its DataFrame was built at "
        f"{sf_dir} (budget {budget}); see scripts/probe_build.py for the steps"
    )


# py4j commands the main thread sends while a WARM DataFrame is built
# at sf0.001 (the first build pays one-off JVM class lookups). Every
# projection, aggregate and filter of these paths is a SQL string, and
# the loader resolves its JVM classes once per gateway; a Column node
# costs several round trips (PySpark 4 captures the session, a conf
# value and the call site per node), so a path rebuilt from Column
# nodes shows here first. The counts repeat exactly for a fixed input
# and PySpark version; ``scripts/probe_build.py`` prints them. Counts
# with the paths built from Column nodes in parentheses
# (dedup_clusters: 381 with its SQL strings but the loader's JVM
# classes looked up on every call).
PY4J_COMMANDS = [
    ("dedup_clusters", 347),  # (2,134)
    ("dedup_canonical_pick", 454),  # (1,053)
    ("q1_sessionize", 77),  # (329)
    ("q3_window_funnel", 87),  # (710)
    ("q9_next_node_forward", 113),  # (401)
    ("q16_funnel_allow_reentry", 107),  # (430)
    ("q5_sequence_match_adjacent", 78),  # (401)
    ("q6_sequence_match_time", 79),  # (463)
    ("q7_sequence_count", 77),  # (577)
    # above q5-q7 by the Column select in queries.py that unpacks its array
    ("q8_sequence_match_events", 137),  # (647)
]


@pytest.mark.parametrize("name,budget", PY4J_COMMANDS, ids=[n for n, _ in PY4J_COMMANDS])
def test_build_py4j_commands_within_budget(spark, count_py4j, sf_dir, name, budget):
    import __spark_entry__ as entry

    fn = entry.queries()[name]
    fn(spark, sf_dir)  # cold build
    _, commands = count_py4j(lambda: fn(spark, sf_dir))
    assert commands <= budget, (
        f"{name} sent {commands} py4j commands while its DataFrame was built "
        f"at {sf_dir} (budget {budget}); see scripts/probe_build.py"
    )


# q9 in the reference dialect, as the SQL surface takes it
Q9_SQL_FORM = (
    "SELECT user_id, sequence_next_node('forward', 'first_match', ts, event_type, "
    "event_type = 'signup', event_type = 'signup', event_type = 'view') AS next_ev "
    "FROM events GROUP BY user_id"
)


def test_behavioral_sql_py4j_commands_within_budget(spark, count_py4j, sf_dir):
    """A second ``behavioral_sql`` statement on a session: the rewrite,
    the catalog lookups and ``spark.sql``, with the UDFs registered by
    the first (re-registering them made it 95 commands at sf0.001)."""
    from duckdb_behavioral_spark.sources import load_events
    from duckdb_behavioral_spark.sql_surface import behavioral_sql

    load_events(spark, sf_dir).createOrReplaceTempView("events")
    behavioral_sql(spark, Q9_SQL_FORM)
    _, commands = count_py4j(lambda: behavioral_sql(spark, Q9_SQL_FORM))
    assert commands <= 6, (
        f"a second behavioral_sql call sent {commands} py4j commands (budget 6)"
    )
