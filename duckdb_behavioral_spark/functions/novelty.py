"""Corpus n-gram novelty — per document, how much of its text is NEW
relative to everything that arrived before it (doc_id as arrival
order). The memorization/staleness audit a training pipeline runs on
an incoming crawl slice: a novelty collapse means the feed has gone
stale; a per-source novelty gap drives mixing weights.

``corpus_ngram_novelty``: for each doc, the permille of its distinct
3-gram shingles whose corpus-FIRST occurrence (min doc_id over all
docs containing the shingle) is the doc itself.

Scale shape: the dedup family's shingle pipeline (distinct 3-grams,
48-bit md5 keys — functions/dedup.py) exploded once; ONE aggregate
keyed by shingle hash computes the first-occurrence owner (min
doc_id, map-side partial MIN); one join back on the same key and a
per-doc count. Both exchanges ride uniform 8-byte keys; state is
O(vocabulary of shingles), the same bound the dedup queries already
carry. No pairwise work anywhere.

Determinism: min/count over exact integers; the shared md5-48 hash
is engine-identical (functions/common.py).

Reference scope note: no reference counterpart
(/root/reference/src/lib.rs:11-19); extends SURVEY.md §2.5's
corpus-audit family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import (
    md5_hash48,
    shingles3,
    sql_md5_hash48,
    sql_shingles3,
    sql_tokens,
    tokens,
)

__all__ = ["ngram_novelty", "q_corpus_ngram_novelty", "NOVELTY_SQL"]


def ngram_novelty(docs: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty_permille) for every doc
    with >= 3 tokens; docs shorter than one shingle are excluded
    (novelty undefined on an empty shingle set)."""
    sh = (
        docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
        .where(F.size(F.col("__toks")) >= 3)
        .select(
            "doc_id",
            F.explode(shingles3(F.col("__toks"))).alias("__s"),
        )
        .select("doc_id", md5_hash48(F.col("__s")).alias("h"))
        # barrier (r12, guide §2.4): ``sh`` feeds BOTH the first-
        # occurrence aggregate and the join leg; without it Catalyst
        # re-runs the tokenize→shingle→md5 pipeline once per consumer
        # (two full document scans for one logical pass).
        .localCheckpoint(eager=False)
    )
    # n_novel per doc = the number of distinct shingles whose FIRST
    # document is that doc — countable from the first-occurrence
    # aggregate alone (r13, guide §2.4): the former shape joined the
    # full exploded shingle stream back to `first` on the shingle hash
    # (a shingle-cardinality exchange of both sides) just to re-derive
    # that count; two doc-keyed aggregates + one doc-sized join carry
    # the same information.
    first = sh.groupBy("h").agg(F.min("doc_id").alias("__first"))
    novel = first.groupBy(F.col("__first").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    nsh = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    per_doc = nsh.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.floor(F.col("n_novel") * 1000 / F.col("n_shingles"))
        .cast("long")
        .alias("novelty_permille"),
    ).orderBy("doc_id")


def q_corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return ngram_novelty(load_table(spark, sf_dir, "documents"))


NOVELTY_SQL = f"""
WITH toked AS (
  SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
), sh AS (
  SELECT doc_id, {sql_md5_hash48('s')} AS h
  FROM (SELECT doc_id, unnest({sql_shingles3('toks')}) AS s
        FROM toked WHERE len(toks) >= 3)
), first AS (
  SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h
), per_doc AS (
  SELECT sh.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM sh JOIN first f USING (h)
  GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       CAST(n_novel * 1000 // n_shingles AS BIGINT) AS novelty_permille
FROM per_doc ORDER BY doc_id
"""
