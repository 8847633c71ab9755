"""Corpus growth diagnostics: Heaps'-law vocabulary curve and the
near-dup cluster-size histogram — the two "shape of the corpus"
reports a data curator checks before and after every ingest batch
(vocabulary flattening = the new crawl adds no novel content;
a fattening duplicate tail = the dedup pass is falling behind).

``corpus_vocab_growth``: vocabulary size after each decile of the
corpus (by ``doc_id`` order — ingestion order in the testdata).
Exact, ONE term-keyed aggregate: each term's FIRST document
(``min(doc_id)``) says in which decile it was born; a |deciles|-row
cumulative sum turns birth counts into the growth curve. No
per-checkpoint rescans (the naive formulation scans the corpus once
per checkpoint).

``dedup_cluster_sizes``: histogram of near-dup cluster sizes from the
transitive clusters (functions/dedup.dedup_clusters — min-label
connected components), plus each bucket's share of documents and the
documents REMOVED by canonical-only retention. The cluster pass is
the expensive part and already rides the audited pointer-jumping
plan; this summary adds two bounded aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import sql_tokens, tokens

__all__ = [
    "vocab_growth",
    "q_corpus_vocab_growth",
    "q_dedup_cluster_sizes",
]

N_DECILES = 10


def vocab_growth(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(decile, docs_cum, new_terms, vocab_cum) for doc-id deciles.

    Decile of doc d = ``least(9, div(10 * rank0, n_docs))`` where
    rank0 counts docs with smaller id — computed without a window by
    broadcasting the 1-row corpus bounds and using the id directly
    (ids are dense in the testdata; dense or not, the cut is a
    deterministic function of the id ORDER via the bounds row).
    """
    base = docs.where(F.col(text).isNotNull())
    bounds = base.agg(
        F.min(id_col).alias("__lo"),
        F.max(id_col).alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    first = (
        base.select(
            F.col(id_col), tokens(F.lower(F.col(text))).alias("__toks")
        )
        .select(F.col(id_col), F.explode("__toks").alias("term"))
        .groupBy("term")
        .agg(F.min(id_col).alias("__first"))
    )
    decile = lambda c: F.least(  # noqa: E731
        F.lit(N_DECILES - 1),
        F.expr(
            f"div({N_DECILES} * ({c} - __lo), greatest(__hi - __lo + 1, 1))"
        ),
    ).cast("long")
    births = (
        first.crossJoin(F.broadcast(bounds))
        .groupBy(decile("__first").alias("decile"))
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    doc_counts = (
        base.crossJoin(F.broadcast(bounds))
        .groupBy(decile(id_col).alias("decile"))
        .agg(F.count(F.lit(1)).cast("long").alias("docs"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        doc_counts.join(births, "decile", "left")
        .select(
            "decile",
            "docs",
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
        )
        .select(
            "decile",
            F.sum("docs").over(w).cast("long").alias("docs_cum"),
            "new_terms",
            F.sum("new_terms").over(w).cast("long").alias("vocab_cum"),
        )
        .orderBy("decile")
    )


def q_corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return vocab_growth(load_table(spark, sf_dir, "documents"))


VOCAB_GROWTH_SQL = f"""
WITH base AS (
  SELECT doc_id, lower(text) AS lt FROM documents WHERE text IS NOT NULL
), bounds AS (
  SELECT min(doc_id) AS lo, max(doc_id) AS hi, count(*) AS n FROM base
), first AS (
  SELECT term, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest({sql_tokens('lt')}) AS term FROM base)
  GROUP BY term
), births AS (
  SELECT least({N_DECILES - 1},
               {N_DECILES} * (first_doc - lo) // greatest(hi - lo + 1, 1))
           AS decile,
         CAST(count(*) AS BIGINT) AS new_terms
  FROM first, bounds GROUP BY 1
), doc_counts AS (
  SELECT least({N_DECILES - 1},
               {N_DECILES} * (doc_id - lo) // greatest(hi - lo + 1, 1))
           AS decile,
         CAST(count(*) AS BIGINT) AS docs
  FROM base, bounds GROUP BY 1
)
SELECT CAST(d.decile AS BIGINT) AS decile,
       CAST(sum(d.docs) OVER (ORDER BY d.decile
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS docs_cum,
       CAST(COALESCE(b.new_terms, 0) AS BIGINT) AS new_terms,
       CAST(sum(COALESCE(b.new_terms, 0)) OVER (ORDER BY d.decile
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
FROM doc_counts d LEFT JOIN births b ON b.decile = d.decile
ORDER BY decile
"""


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.functions.dedup import clusters_for

    clusters = clusters_for(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.expr("CAST(count(1) AS BIGINT) AS size"))
    hist = sizes.groupBy(F.expr("size AS cluster_size")).agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_clusters")
    )
    # The doc total is a 1-row aggregate of the BOUNDED histogram (one
    # row per distinct cluster size; sum over sizes == sum(size *
    # n_clusters) over the histogram, exactly), attached by a broadcast
    # cross join. No barrier: the lineage below ``hist`` ends at
    # connected_components' checkpoints, so the total re-derives the
    # small histogram at execution instead of running a checkpoint's
    # jobs at construction, and the query's construction jobs are
    # exactly ``dedup_clusters``'. A ``sum(...) OVER ()`` window would
    # be a raw single-partition exchange under plans.audit.
    n_docs = hist.agg(F.expr("sum(cluster_size * n_clusters) AS __nd"))
    return hist.crossJoin(F.broadcast(n_docs)).selectExpr(
        "cluster_size",
        "n_clusters",
        "CAST(cluster_size * n_clusters AS BIGINT) AS n_docs",
        "CAST(div(cluster_size * n_clusters * 1000, __nd) AS BIGINT) AS doc_share_permille",
        "CAST((cluster_size - 1) * n_clusters AS BIGINT) AS removed_by_dedup",
    ).orderBy("cluster_size")


def _cluster_sizes_sql() -> str:
    from duckdb_behavioral_spark.functions.dedup import DEDUP_CLUSTERS_SQL

    return f"""
WITH sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
  FROM ({DEDUP_CLUSTERS_SQL})
  GROUP BY cluster_id
), nd AS (
  SELECT CAST(sum(size) AS BIGINT) AS n FROM sizes
)
SELECT size AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(size * count(*) AS BIGINT) AS n_docs,
       CAST(size * count(*) * 1000 // nd.n AS BIGINT) AS doc_share_permille,
       CAST((size - 1) * count(*) AS BIGINT) AS removed_by_dedup
FROM sizes, nd
GROUP BY size, nd.n
ORDER BY cluster_size
"""
