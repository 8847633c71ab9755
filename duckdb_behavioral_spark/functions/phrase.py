"""Positional phrase search — the adjacency query an inverted index
with positions exists to answer (``"new york"`` must match the words
ADJACENT, not merely co-occurring; see functions/inverted.py for the
posting store this logically runs against).

The declared query is self-contained: stage 1 finds the corpus's most
frequent word bigram (ties broken lexicographically — a deterministic
1-row result), stage 2 returns the top documents containing that
bigram as an adjacent phrase, with match counts and the first match
position.

Scale shape: stage 1 is the passage-dedup shingle pipeline (map-side
explode of materialized 2-grams, one vocabulary-keyed count, then
TakeOrderedAndProject for the argmax — no global sort). Stage 2
re-scans with the 1-row phrase BROADCAST and filters gram == phrase
BEFORE the per-document aggregate, so the exchange carries only
matching positions (a production index would prune to one posting
bucket instead of re-scanning; the relational shape — filter, then
doc-keyed count/min — is the same). Positions are 1-based.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import (
    sql_tokens,
    sql_word_grams,
    tokens,
)
from duckdb_behavioral_spark.functions.topk import ranked_topk

__all__ = ["phrase_match_topk", "q_search_phrase_match"]

TOPK = 50


def _doc_bigrams(docs: DataFrame, id_col: str, text: str) -> DataFrame:
    # (doc, pos, w1, w2) — bigrams as STRUCT pairs straight off the
    # token array (r13): the former word_grams_indexed path built a
    # "w1 w2" string per gram OCCURRENCE in both passes; tokens are
    # whitespace-split (no spaces inside a token), so the pair <->
    # string mapping is a bijection and grouping by the pair is
    # exactly grouping by the string. The string is reconstructed
    # only for the tie-break sort and the single winning phrase.
    toked = docs.where(F.col(text).isNotNull()).select(
        F.col(id_col), tokens(F.lower(F.col(text))).alias("__toks")
    )
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
    return toked.select(
        id_col, F.posexplode(bigrams).alias("__pos0", "__p")
    ).select(
        id_col,
        "__pos0",
        F.col("__p.w1").alias("__w1"),
        F.col("__p.w2").alias("__w2"),
    )


def phrase_match_topk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = TOPK,
) -> DataFrame:
    # NOT checkpointed: a barrier here would MATERIALIZE the exploded
    # gram rows (O(total tokens) storage — measured 30x slower at 1M
    # docs, and a non-starter at corpus scale). Both consumers
    # recompute from the column-pruned parquet scan instead — two
    # cheap map-side passes beat one materialized explosion.
    grams = _doc_bigrams(docs, id_col, text)
    # ties break on the STRING (oracle semantics, unchanged): the
    # concat evaluates once per DISTINCT pair in the top-1 sort, not
    # once per gram occurrence per pass as before
    top_phrase = (
        grams.groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .orderBy(
            F.col("__cnt").desc(),
            F.concat_ws(" ", F.col("__w1"), F.col("__w2")).asc(),
        )
        .limit(1)
        .select(
            "__w1",
            "__w2",
            F.concat_ws(" ", F.col("__w1"), F.col("__w2")).alias("phrase"),
        )
    )
    matched = (
        grams.join(F.broadcast(top_phrase), ["__w1", "__w2"])
        .groupBy(id_col, "phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            (F.min("__pos0") + 1).cast("long").alias("first_pos"),
        )
    )
    return ranked_topk(
        matched.select(id_col, "phrase", "n_matches", "first_pos"),
        [F.col("n_matches").desc(), F.col(id_col).asc()],
        k,
    )


def q_search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return phrase_match_topk(load_table(spark, sf_dir, "documents"))


PHRASE_MATCH_SQL = f"""
WITH toked AS (
  SELECT doc_id, {sql_tokens('lower(text)')} AS toks
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id,
         CAST(generate_subscripts(gs, 1) AS BIGINT) AS pos,
         unnest(gs) AS gram
  FROM (SELECT doc_id, {sql_word_grams('toks', 2)} AS gs FROM toked) g
), top_phrase AS (
  SELECT gram AS phrase FROM grams
  GROUP BY gram ORDER BY count(*) DESC, gram LIMIT 1
), matched AS (
  SELECT doc_id, phrase,
         CAST(count(*) AS BIGINT) AS n_matches,
         CAST(min(pos) AS BIGINT) AS first_pos
  FROM grams JOIN top_phrase ON gram = phrase
  GROUP BY doc_id, phrase
)
SELECT doc_id, phrase, n_matches, first_pos,
       CAST(row_number() OVER (ORDER BY n_matches DESC, doc_id) AS BIGINT)
         AS rank
FROM matched
ORDER BY n_matches DESC, doc_id
LIMIT {TOPK}
"""
