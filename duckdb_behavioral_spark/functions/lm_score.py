"""Language-model document scoring — every document scored by the
corpus's own bigram LM (functions/ngram_lm.py builds the table; this
module APPLIES it), the count-based stand-in for the perplexity
filter an LLM data pipeline runs to rank fluent vs anomalous text.

True perplexity needs logs; cross-engine ``ln`` is not guaranteed
bit-identical (JVM vs libm differ at the ulp), so the score is the
integer MEAN CONDITIONAL PROBABILITY: per document,
``div(sum(p_permille(bigram)), n_bigrams)`` where ``p_permille`` is
the corpus LM's truncated-permille P(w2|w1). The bigram ``pairs`` and the
per-doc ``scored`` DataFrames are localCheckpoint barriers so the
corpus tokenize+explode scan runs ONCE, not once per consumer (the
LM aggregate, the join probe side, and the two topk tails all reuse
the checkpointed partitions). Monotone in the LM's
geometric-mean direction for ranking purposes and exactly
reproducible. Documents report from both ends: the ``top`` tag is the
most-predictable (template-like) documents, ``bottom`` the least
(noisy / out-of-domain) — the two tails a corpus curator actually
reads.

Scale shape: the LM table is vocabulary-bounded (Heaps' law), built
with one keyed exchange + a vocabulary-keyed window; applying it is a
map-side bigram explode joined to the LM on (w1, w2) — co-keyed
shuffle join whose build side is the bounded LM — then one per-doc
aggregate. Both tails ride TakeOrderedAndProject. Every unseen-bigram
case is impossible by construction (the LM is trained on the same
corpus), so there is no smoothing branch to diverge on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import (
    sql_tokens,
    tokens,
)
from duckdb_behavioral_spark.functions.topk import ranked_topk

__all__ = ["lm_likelihood_tails", "q_text_lm_likelihood"]

TAIL_K = 25


def lm_likelihood_tails(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id", k: int = TAIL_K
) -> DataFrame:
    toked = docs.where(F.col(text).isNotNull()).select(
        F.col(id_col), tokens(F.lower(F.col(text))).alias("__toks")
    )
    # Checkpoint barrier (the dedup.py banded-sigs pattern): ``pairs``
    # feeds BOTH the LM aggregate and the probe side of the join, and
    # ``scored`` below feeds two ranked-topk tails — without barriers
    # Catalyst re-runs the tokenize→bigram-explode scan once per
    # consumer (up to 4× the corpus scan; the 100-TB killer).
    # bigrams as (w1, w2) STRUCTS straight off the token array (r13):
    # the former word_grams_indexed path concat_ws'd every bigram into
    # a string only for split_part to cut it apart again — one string
    # build + two scans per gram in the hottest stage. Tokens are
    # whitespace-split, so the struct pairs are exactly the split
    # halves. Same attribute-ref lambda discipline as
    # word_grams_indexed (the token array is a bound column).
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
    pairs = (
        toked.select(id_col, F.explode(bigrams).alias("__p"))
        .select(id_col, F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .localCheckpoint(eager=False)
    )
    lm = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "p_permille",
            F.expr(
                "div(__n * 1000, sum(__n) over (partition by w1))"
            ).cast("long"),
        )
        .select("w1", "w2", "p_permille")
    )
    scored = (
        pairs.join(lm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.expr("div(sum(p_permille), count(1))")
            .cast("long")
            .alias("mean_p_permille"),
        )
        .localCheckpoint(eager=False)
    )
    top = ranked_topk(
        scored,
        [F.col("mean_p_permille").desc(), F.col(id_col).asc()],
        k,
    ).withColumn("tag", F.lit("top"))
    bottom = ranked_topk(
        scored,
        [F.col("mean_p_permille").asc(), F.col(id_col).asc()],
        k,
    ).withColumn("tag", F.lit("bottom"))
    return top.unionByName(bottom).select(
        "tag", "rank", id_col, "n_bigrams", "mean_p_permille"
    )


def q_text_lm_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return lm_likelihood_tails(load_table(spark, sf_dir, "documents"))


LM_LIKELIHOOD_SQL = f"""
WITH toked AS (
  SELECT doc_id, {sql_tokens("lower(text)")} AS toks
  FROM documents WHERE text IS NOT NULL
), pairs AS (
  SELECT doc_id, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
  FROM toked, unnest(
    CASE WHEN len(toks) >= 2 THEN
      list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
    ELSE CAST([] AS VARCHAR[]) END) AS u(g)
), lm AS (
  SELECT w1, w2,
         CAST(count(*) * 1000 //
              sum(count(*)) OVER (PARTITION BY w1) AS BIGINT) AS p_permille
  FROM pairs GROUP BY w1, w2
), scored AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lm.p_permille) // count(*) AS BIGINT) AS mean_p_permille
  FROM pairs p JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2
  GROUP BY p.doc_id
), top AS (
  SELECT 'top' AS tag,
         CAST(row_number() OVER (
           ORDER BY mean_p_permille DESC, doc_id) AS BIGINT) AS rank,
         doc_id, n_bigrams, mean_p_permille
  FROM scored ORDER BY mean_p_permille DESC, doc_id LIMIT {TAIL_K}
), bottom AS (
  SELECT 'bottom' AS tag,
         CAST(row_number() OVER (
           ORDER BY mean_p_permille ASC, doc_id) AS BIGINT) AS rank,
         doc_id, n_bigrams, mean_p_permille
  FROM scored ORDER BY mean_p_permille ASC, doc_id LIMIT {TAIL_K}
)
SELECT * FROM top UNION ALL SELECT * FROM bottom
"""
