"""Passage-level duplication: which spans of a document appear
verbatim in OTHER documents (Lee et al., "Deduplicating Training Data
Makes Language Models Better", ACL 2022 — the motivation for
substring-granular dedup; this is the scalable shingle approximation
of their suffix-array method).

Exact-dedup (functions/dedup.py) removes whole-document copies;
training corpora also carry *partially* copied text — boilerplate
headers, quoted paragraphs, licensing blocks — invisible to whole-doc
hashing. Passage dedup measures, per document, what fraction of its
word-8-gram shingles also occur in at least one other document.

Scale shape: explode to distinct (doc, shingle-hash) pairs (map-side
explode + local distinct), count docs per shingle (shuffle keyed on
the 48-bit shingle hash — uniformly distributed by construction, no
skew), broadcast-free join back on the same key, re-aggregate per
doc. Everything is linear in total shingle count; there is no
pairwise doc-doc comparison anywhere, so a pathological corpus of
near-identical docs costs the same as a clean one (contrast the
blocked-jaccard verifier, which is quadratic per candidate bucket).

The shingle is keyed by its salted 48-bit md5 prefix (repo-standard
portable hash — functions/sketches.py): the shuffle carries 8-byte
keys instead of ~50-byte strings. Collisions are ~n²/2^48 (none at
any realistic shard size) and, mattering here, IDENTICAL in both
engines, so the oracle is exact regardless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import word_grams_indexed

__all__ = ["passage_dup_stats"]

SHINGLE_W = 8  # words per passage shingle
MIN_DUP_RATIO_PERMILLE = 0  # declared query keeps docs with any dup passage


def passage_dup_stats(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_passages, n_dup_passages, dup_ratio) for every doc
    with at least ``SHINGLE_W`` tokens and >=1 passage shared with
    another document. Passages are distinct-per-doc word 8-grams
    built by ``word_grams_indexed`` over a materialized token array
    (one string per shingle, no intermediate k-gram arrays);
    dup_ratio = n_dup/n_passages (single int/int division).

    ``pairs`` feeds BOTH the per-shingle doc count and the join back,
    so it is lazily checkpointed — without the barrier the whole
    explode+md5+distinct subtree runs twice."""
    toks = F.split(F.col(text), " ")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("psg:"), F.col("sh"))), 1, 12), 16, 10
    ).cast("long")
    base = (
        docs.where(F.size(toks) >= SHINGLE_W)
        .select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    )
    pairs = (
        base.select(
            "doc_id",
            F.explode(word_grams_indexed(F.col("__toks"), SHINGLE_W)).alias("sh"),
        )
        .select("doc_id", h.alias("hs"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    per_sh = pairs.groupBy("hs").agg(F.count("*").alias("n_docs"))
    joined = pairs.join(per_sh, "hs")
    out = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_dup_passages"),
    )
    return out.where(F.col("n_dup_passages") > 0).select(
        "doc_id",
        "n_passages",
        "n_dup_passages",
        (F.col("n_dup_passages") / F.col("n_passages")).alias("dup_ratio"),
    )


# --- declared query -------------------------------------------------------


def q_passage_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return passage_dup_stats(load_table(spark, sf_dir, "documents"))


PASSAGE_DUP_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_W}
), idx AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {SHINGLE_W - 1})) AS i
  FROM base
), pairs AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5('psg:' ||
            array_to_string(toks[i:i+{SHINGLE_W - 1}], ' ')), 1, 12))::BIGINT AS hs
  FROM idx
), per_sh AS (
  SELECT hs, COUNT(*) AS n_docs FROM pairs GROUP BY hs
), agg AS (
  SELECT doc_id, COUNT(*) AS n_passages,
         CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages
  FROM pairs JOIN per_sh USING (hs) GROUP BY doc_id
)
SELECT doc_id, n_passages, n_dup_passages,
       CAST(n_dup_passages AS DOUBLE) / n_passages AS dup_ratio
FROM agg WHERE n_dup_passages > 0
"""
