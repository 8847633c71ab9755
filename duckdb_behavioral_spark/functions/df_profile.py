"""Shingle document-frequency profile — the design readout behind
every df-capped stage in the dedup family: how is shingle document
frequency distributed, and how much posting mass sits inside the
truth-eligible band ``[2, TRUTH_DF_CAP]`` that
``dedup_lsh_recall_eval`` pairs on? A corpus whose mass piles into
the high-df buckets (boilerplate-heavy) starves the capped ground
truth and inflates LSH candidate buckets; this profile is how an
operator picks the cap instead of inheriting the default.

One row per occupied power-of-2 df bucket (<= 41 rows):

  k                       smallest k with 2^k >= df (integer CASE) —
                          buckets k = 1..log2(TRUTH_DF_CAP) are
                          EXACTLY the truth-eligible band
  n_shingles              distinct shingles whose df lands in the bucket
  lo_df / hi_df           df range actually seen in the bucket
  postings                total (doc, shingle) postings in the bucket
  postings_share_permille 1000 * postings / total postings (floor)
  truth_band              1 when the bucket is truth-eligible
                          (df in [2, TRUTH_DF_CAP]), else 0

Scale shape: the distinct-shingle stream is derived INLINE (tokenize
-> per-doc distinct shingle hashes -> explode), NOT through
``dedup._shingle_sets``: that helper's repartition + checkpoint
barrier exists for its multi-consumer join legs, and with this
operator's single consumer the barrier is pure cost: the inline form
stays in whole-stage codegen from the scan and reads a stable
6.3-7.8s at 300k docs in an interleaved sentinel-checked A/B, while
the barrier form's materialized Row blocks made it erratic (5.1s then
60.9s on identical reruns — block-manager/GC pressure) and a cold
1M-doc window read 676s barrier vs 219s inline (the ``pq_transfer``
fat-row counter-lesson). Then one vocabulary-bounded hash aggregate to df and one
<= 41-row bucket aggregate; the total-postings divisor is a window
over the BUCKET rows (never a second pass over the df table).

Exactness: counts and BIGINT floor permilles only.

Reference scope note: the reference ships no dedup operator (its
surface is the seven behavioral aggregates,
/root/reference/src/lib.rs:11-19); this extends SURVEY.md §2.5's
dedup family per the north-star LLM-pipeline scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.burstiness import _k_case
from duckdb_behavioral_spark.functions.common import (
    md5_hash48,
    shingles3,
    tokens,
)
from duckdb_behavioral_spark.functions.dedup import _SQL_SHS
from duckdb_behavioral_spark.functions.dedup_eval import TRUTH_DF_CAP

__all__ = [
    "shingle_df_profile",
    "q_dedup_shingle_df_profile",
    "SHINGLE_DF_PROFILE_SQL",
]

# k_case(df) maps df=2 -> k=1 and df=TRUTH_DF_CAP -> k=log2(CAP), so
# the truth-eligible band [2, CAP] is exactly buckets 1..log2(CAP)
_CAP_K = TRUTH_DF_CAP.bit_length() - 1


def shingle_df_profile(docs: DataFrame) -> DataFrame:
    """(k, n_shingles, lo_df, hi_df, postings, postings_share_permille,
    truth_band) — power-of-2 shingle-df histogram."""
    dfed = (
        docs.select(tokens(F.col("text")).alias("__toks"))
        .select(
            F.explode(
                F.array_distinct(
                    F.transform(shingles3(F.col("__toks")), md5_hash48)
                )
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    buckets = dfed.groupBy(
        F.expr(_k_case("df")).cast("long").alias("k")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.min("df").cast("long").alias("lo_df"),
        F.max("df").cast("long").alias("hi_df"),
        F.sum("df").cast("long").alias("postings"),
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        buckets.withColumn(
            "__total", F.sum("postings").over(w_all).cast("long")
        )
        .select(
            "k",
            "n_shingles",
            "lo_df",
            "hi_df",
            "postings",
            F.expr("div(1000 * postings, __total)")
            .cast("long")
            .alias("postings_share_permille"),
            F.when((F.col("k") >= 1) & (F.col("k") <= _CAP_K), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("truth_band"),
        )
        .orderBy("k")
    )


def q_dedup_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return shingle_df_profile(load_table(spark, sf_dir, "documents"))


SHINGLE_DF_PROFILE_SQL = f"""
WITH shs AS (
  {_SQL_SHS}
), dfed AS (
  SELECT h, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(sh) AS h FROM shs)
  GROUP BY h
), buckets AS (
  SELECT CAST({_k_case('df')} AS BIGINT) AS k,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(min(df) AS BIGINT) AS lo_df,
         CAST(max(df) AS BIGINT) AS hi_df,
         CAST(sum(df) AS BIGINT) AS postings
  FROM dfed GROUP BY 1
)
SELECT k, n_shingles, lo_df, hi_df, postings,
       CAST((1000 * postings) // (CAST(sum(postings) OVER () AS BIGINT))
         AS BIGINT) AS postings_share_permille,
       CAST(CASE WHEN k BETWEEN 1 AND {_CAP_K} THEN 1 ELSE 0 END AS BIGINT)
         AS truth_band
FROM buckets
ORDER BY k
"""
