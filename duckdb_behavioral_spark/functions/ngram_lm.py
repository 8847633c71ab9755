"""Bigram language-model statistics over the corpus — the count-based
n-gram conditional-probability table (KenLM-style, minus smoothing)
a data pipeline builds for perplexity filtering and generation-leak
checks.

``text_bigram_lm`` returns the top-50 bigrams by corpus frequency with
their conditional probability P(w2 | w1) in integer permille
(truncating division — the suite-wide float-free convention).

Scale shape: bigram extraction is a map-side explode over a
materialized token attribute (word_grams_indexed — no re-split per
element); one keyed exchange aggregates (w1, w2) counts; the
conditional denominator sum_w2 c(w1, w2) is a window over w1 — a
second keyed exchange whose partitions are vocabulary-bounded, not
corpus-bounded. The final top-k is TakeOrderedAndProject (functions/
topk.ranked_topk), never a global sort. At 100 TB the shuffled state
is |bigram vocabulary| rows, which Heaps' law keeps far below corpus
size.

Determinism: counts and truncating integer division only; ties in the
top-k break on (w1, w2) — a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import (
    sql_tokens,
    tokens,
)
from duckdb_behavioral_spark.functions.topk import ranked_topk

__all__ = ["bigram_lm", "q_text_bigram_lm"]

TOPK = 50


def bigram_lm(docs: DataFrame, text: str = "text", k: int = TOPK) -> DataFrame:
    """(rank, w1, w2, n, n_w1, p_permille): top-``k`` corpus bigrams by
    count with truncated-permille conditional probability."""
    toked = docs.select(tokens(F.lower(F.col(text))).alias("__toks"))
    # bigrams as (w1, w2) structs straight off the token array (r13):
    # no concat_ws + split_part round trip per gram — see
    # lm_score.lm_likelihood_tails
    sz = F.size(F.col("__toks"))
    bigrams = F.when(
        sz >= 2,
        F.transform(
            F.sequence(F.lit(1), sz - 1),
            lambda i: F.struct(
                F.element_at(F.col("__toks"), i).alias("w1"),
                F.element_at(F.col("__toks"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = toked.select(F.explode(bigrams).alias("__p")).select(
        F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2")
    )
    counted = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    w1w = Window.partitionBy("w1")
    scored = counted.select(
        "w1",
        "w2",
        F.col("n").cast("long").alias("n"),
        F.sum("n").over(w1w).cast("long").alias("n_w1"),
    ).withColumn("p_permille", F.expr("div(n * 1000, n_w1)").cast("long"))
    top = ranked_topk(
        scored, [F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc()], k
    )
    return top.select("rank", "w1", "w2", "n", "n_w1", "p_permille")


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return bigram_lm(load_table(spark, sf_dir, "documents"))


BIGRAM_LM_SQL = f"""
WITH toked AS (
  SELECT {sql_tokens("lower(text)")} AS toks FROM documents
), pairs AS (
  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
  FROM toked, unnest(
    CASE WHEN len(toks) >= 2 THEN
      list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
    ELSE CAST([] AS VARCHAR[]) END) AS u(g)
), counted AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
  FROM pairs GROUP BY w1, w2
), scored AS (
  SELECT w1, w2, n,
         CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT) AS n_w1
  FROM counted
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, w1, w2) AS BIGINT) AS rank,
       w1, w2, n, n_w1, CAST(n * 1000 // n_w1 AS BIGINT) AS p_permille
FROM scored
ORDER BY n DESC, w1, w2
LIMIT {TOPK}
"""
