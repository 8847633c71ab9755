"""Workload definitions: which seeded inputs each workload generates
and which declared queries it times.

Every query is taken from ``registry.all_queries()`` with its oracle
from ``registry.all_oracles()``; the ``behavioral_sql`` forms restate a
declared query in the reference dialect and are checked against that
query's oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import gen

VIEW = "event_type = 'view'"
CLICK = "event_type = 'click'"
PURCHASE = "event_type = 'purchase'"
SIGNUP = "event_type = 'signup'"

# The seven behavioral functions in the reference dialect, each keyed
# by the declared query whose result (and oracle) it restates.
SQL_FORMS = {
    "q1_sessionize": (
        "SELECT user_id, ts, sessionize(ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY user_id ORDER BY ts) AS session_id FROM events"
    ),
    "q2_retention": (
        "SELECT user_id, r[1] AS r0, r[2] AS r1, r[3] AS r2 FROM ("
        f"SELECT user_id, retention({SIGNUP}, {VIEW}, {PURCHASE}) AS r "
        "FROM events GROUP BY user_id)"
    ),
    "q3_window_funnel": (
        f"SELECT user_id, window_funnel(INTERVAL '1 hour', ts, {VIEW}, {CLICK}, "
        f"{PURCHASE}) AS step FROM events GROUP BY user_id"
    ),
    "q5_sequence_match_adjacent": (
        f"SELECT user_id, sequence_match('(?1)(?2)', ts, {VIEW}, {PURCHASE}) AS m "
        "FROM events GROUP BY user_id"
    ),
    "q7_sequence_count": (
        f"SELECT user_id, sequence_count('(?1).*(?2)', ts, {VIEW}, {PURCHASE}) AS c "
        "FROM events GROUP BY user_id"
    ),
    "q8_sequence_match_events": (
        "SELECT user_id, e[1] AS m0, e[2] AS m1 FROM ("
        f"SELECT user_id, sequence_match_events('(?1).*(?2)', ts, {VIEW}, {PURCHASE}) "
        "AS e FROM events GROUP BY user_id)"
    ),
    "q9_next_node_forward": (
        "SELECT user_id, sequence_next_node('forward', 'first_match', ts, event_type, "
        f"{SIGNUP}, {SIGNUP}, {VIEW}) AS next_ev FROM events GROUP BY user_id"
    ),
}

# Inputs per size: "full" is what the benchmark measures, "tiny" is
# the smoke size the self-tests run.
SIZES = {
    "full": {"events": (200_000, 3_000), "documents": 240},
    "tiny": {"events": (3_000, 60), "documents": 60},
}


@dataclass(frozen=True)
class Query:
    name: str
    layer: str  # "operators", "functions" or "sql": where the query function lives
    build: Callable  # (spark, sf_dir) -> DataFrame
    oracle: str


@dataclass(frozen=True)
class Workload:
    name: str
    table: str  # the one generated input table
    query_names: tuple
    sql_forms: tuple = ()

    def generate(self, seed: int, size: str, sf_dir: str, n_files: int) -> dict:
        """Write the seeded input under ``sf_dir``; return its profile."""
        if self.table == "events":
            n_events, n_users = SIZES[size]["events"]
            table = gen.events_table(seed, n_events, n_users)
            profile = gen.events_profile(table)
        else:
            table = gen.documents_table(seed, SIZES[size]["documents"])
            profile = gen.documents_profile(table)
        gen.write_table(table, sf_dir, self.table, n_files)
        return profile

    def queries(self) -> list:
        from duckdb_behavioral_spark.registry import all_oracles, all_queries

        fns, oracles = all_queries(), all_oracles()
        out = []
        for name in self.query_names:
            fn = fns[name]
            layer = "functions" if ".functions." in fn.__module__ else "operators"
            out.append(Query(name, layer, fn, oracles[name]))
        for name in self.sql_forms:
            out.append(Query(f"sql:{name}", "sql", _sql_query(SQL_FORMS[name]), oracles[name]))
        return out


def _sql_query(text: str) -> Callable:
    def build(spark, sf_dir):
        from duckdb_behavioral_spark.sources import load_events
        from duckdb_behavioral_spark.sql_surface import behavioral_sql

        load_events(spark, sf_dir).createOrReplaceTempView("events")
        return behavioral_sql(spark, text)

    return build


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "behavioral",
            "events",
            (
                # JVM strategies: windows and aggregates, no Python workers
                "q1_sessionize", "q3_window_funnel",
                # grouped mapInPandas over the Python kernels
                "q9_next_node_forward", "q16_funnel_allow_reentry",
            ),
            # a pandas UDF over collect_list arrays: q9 on its second path
            ("q9_next_node_forward",),
        ),
        Workload(
            "dedup_pipeline",
            "documents",
            # MinHash -> LSH -> Jaccard -> connected components, 21 jobs before the write
            ("dedup_clusters",),
        ),
    )
}


def duckdb_views(con, sf_dir: str, table: str) -> None:
    path = os.path.join(sf_dir, f"{table}.parquet", "*.parquet")
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
