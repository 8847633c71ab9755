"""Canonical-document selection — the step a dedup pipeline runs
AFTER clustering: each near-dup cluster keeps exactly one survivor,
and "min doc_id" (the ``dedup_clusters`` default) is rarely the right
survivor. This picks the HIGHEST-QUALITY member per cluster
(vocabulary richness, then length, then min id as the deterministic
tiebreak) so the retained corpus keeps the best copy of every
near-dup family, not an arbitrary one.

Scale shape: ``dedup_clusters`` (banded MinHash candidates ->
verified Jaccard edges -> min-label connected components,
functions/dedup.py + operators/graph.py — no all-pairs stage) joined
to the map-side ``quality_score`` projection, then ONE groupBy
(cluster_id) whose aggregation state is a single struct-max — the
classic distributed argmax, no window, no sort. Like the rest of the
dedup path, both are built from SQL strings (one py4j call each, not
one per Column node); ``canonical_quality`` restates the two
``quality_score`` columns the pick orders by. Output is one row
per multi-member cluster: bounded by the near-dup rate, not the
corpus.

Determinism: the struct-max orders (distinct_permille, n_tokens,
-doc_id) lexicographically — all integers, exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import sql_tokens
from duckdb_behavioral_spark.functions.dedup import _SQL_PAIR_CTES, _SQL_TOKENS, dedup_clusters

__all__ = ["dedup_canonical_pick", "q_dedup_canonical_pick", "CANONICAL_PICK_SQL"]


def canonical_quality(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, distinct_permille): the two ``quality_score``
    columns (functions/text.py) the pick orders by, as SQL text."""
    return docs.selectExpr("doc_id", f"{_SQL_TOKENS} AS __toks").selectExpr(
        "doc_id",
        "CAST(size(__toks) AS BIGINT) AS n_tokens",
        "CAST(floor(CAST(size(array_distinct(__toks)) AS BIGINT) * 1000"
        " / CAST(size(__toks) AS BIGINT)) AS BIGINT) AS distinct_permille",
    )


def dedup_canonical_pick(
    docs: DataFrame, clusters: DataFrame | None = None
) -> DataFrame:
    """(cluster_id, n_members, canonical_doc, canonical_quality):
    for every near-dup cluster with >= 2 members, the argmax-quality
    member (distinct_permille desc, n_tokens desc, doc_id asc).

    ``clusters`` lets callers supply a precomputed (doc_id, cluster_id)
    assignment instead of rebuilding the
    whole MinHash -> Jaccard -> CC pipeline."""
    if clusters is None:
        clusters = dedup_clusters(docs)
    j = clusters.selectExpr("doc_id", "cluster_id").join(canonical_quality(docs), "doc_id")
    picked = j.groupBy("cluster_id").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_members"),
        F.expr("max(struct(distinct_permille AS q, n_tokens AS nt, -doc_id AS nid)) AS __best"),
    )
    return (
        picked.where("n_members >= 2")
        .selectExpr(
            "cluster_id",
            "n_members",
            "CAST(-__best.nid AS BIGINT) AS canonical_doc",
            "CAST(__best.q AS BIGINT) AS canonical_quality",
        )
        .orderBy(F.expr("cluster_id"))
    )


def q_dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.functions.dedup import clusters_for
    from duckdb_behavioral_spark.sources import load_table

    return dedup_canonical_pick(
        load_table(spark, sf_dir, "documents"),
        clusters=clusters_for(spark, sf_dir),
    )


# Oracle: the dedup_clusters recursive-CTE closure (same CTE text as
# DEDUP_CLUSTERS_SQL, functions/dedup.py) + the quality_score
# expressions (QUALITY_SQL, functions/text.py), argmax via one
# row_number window per cluster.
CANONICAL_PICK_SQL = _SQL_PAIR_CTES.replace("WITH", "WITH RECURSIVE", 1) + f"""
, e2 AS (
  SELECT doc_a AS s, doc_b AS d FROM verified
  UNION ALL
  SELECT doc_b, doc_a FROM verified
), reach(s, d) AS (
  SELECT s, d FROM e2
  UNION
  SELECT r.s, e.d FROM reach r JOIN e2 e ON e.s = r.d
), comp AS (
  SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id FROM reach GROUP BY s
), cl AS (
  SELECT dd.doc_id, COALESCE(c.cluster_id, dd.doc_id) AS cluster_id
  FROM documents dd LEFT JOIN comp c USING (doc_id)
), toked AS (
  SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
), q AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) * 1000 // len(toks) AS BIGINT)
           AS distinct_permille
  FROM toked
), ranked AS (
  SELECT cl.cluster_id, q.doc_id, q.distinct_permille,
         COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
         row_number() OVER (PARTITION BY cl.cluster_id
                            ORDER BY q.distinct_permille DESC,
                                     q.n_tokens DESC, q.doc_id ASC) AS rk
  FROM cl JOIN q USING (doc_id)
)
SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS canonical_doc,
       distinct_permille AS canonical_quality
FROM ranked WHERE rk = 1 AND n_members >= 2
ORDER BY cluster_id
"""
