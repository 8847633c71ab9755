"""Cross-document boilerplate passages — the "WHICH text is the
template?" report that complements ``text_passage_dup``'s per-doc
duplication FRACTION: rank the corpus's most-shared word-8-gram
passages (cookie banners, license headers, scraped nav text — spans
that survive whole-document MinHash dedup because every carrier doc
is otherwise unique, yet are exactly what a training pipeline
strips). Same passage grain as ``passages.py`` (``SHINGLE_W`` words,
Lee et al. ACL 2022 motivation); where passages.py aggregates per
document, this aggregates per PASSAGE and carries the text out for
the removal queue.

One row per kept passage (<= TOP_N rows):

  rank               1..TOP_N by (n_docs DESC, fp ASC)
  fp                 48-bit passage fingerprint (shared md5 prefix)
  n_docs             distinct documents carrying the passage
  n_occ              total occurrences (a doc can repeat it)
  doc_share_permille 1000 * n_docs / corpus docs (floor, exact)
  sample             MIN passage text over the group (deterministic;
                     an md5-48 collision would surface here as a
                     mismatched sample, never a silent merge)

Scale shape: ONE tokenize + passage explode (the ``passages.py``
``word_grams_indexed`` device — no intermediate gram arrays), one
hash aggregate to per-fp counts (map-side partials; the 48-bit key is
uniform by construction, no skew), then the distributed top-k
(TakeOrderedAndProject — O(TOP_N) state per task, no global sort);
the corpus-doc divisor is a 1-row broadcast aggregate. The sample
string rides THROUGH the aggregate deliberately: a two-pass variant
(longs-only counts, then a second gram pass resolving samples for the
<= TOP_N winners via broadcast semi-join) never won an interleaved
A/B — steady-state 9.2s vs 10.8s at 300k docs, and the two-pass
form's FIRST execution cost 4.7x more (329.7s vs 69.7s, same quiet
session, sentinel-checked) because it pays the gram pipeline's
warm-up twice. Running the tokenize + gram construction twice loses
more than the string-bearing shuffle costs — the inverse of the
``pq_transfer`` lesson: re-derive only when the re-derivation is
cheap.

Exactness: tokenization/gram construction is the engines' shared
definition (``common.sql_word_grams``); counts and BIGINT floor
permilles only, plus the MIN-sample string.

Reference scope note: the reference ships no corpus operator (its
surface is the seven behavioral aggregates,
/root/reference/src/lib.rs:11-19); this extends SURVEY.md §2.5's
text-analysis family per the north-star LLM-pipeline scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import (
    md5_hash48,
    sql_md5_hash48,
    sql_tokens,
    sql_word_grams,
    tokens,
    word_grams_indexed,
)
from duckdb_behavioral_spark.functions.passages import SHINGLE_W
from duckdb_behavioral_spark.functions.topk import ranked_topk

__all__ = [
    "boilerplate_passages",
    "q_corpus_boilerplate_passages",
    "BOILERPLATE_SQL",
]

TOP_N = 20


def boilerplate_passages(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(rank, fp, n_docs, n_occ, doc_share_permille, sample) — the
    TOP_N most cross-document-shared word-8-gram passages."""
    grams = (
        docs.where(F.col(text).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            tokens(F.lower(F.col(text))).alias("__toks"),
        )
        .where(F.size("__toks") >= SHINGLE_W)
        .select(
            "doc_id",
            F.explode(word_grams_indexed(F.col("__toks"), SHINGLE_W)).alias("s"),
        )
        .select("doc_id", "s", md5_hash48(F.col("s")).alias("fp"))
    )
    per_fp = (
        grams.groupBy("fp")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.min("s").alias("sample"),
        )
        .where(F.col("n_docs") >= 2)
    )
    n_corpus = docs.agg(F.count(F.lit(1)).cast("long").alias("__n_corpus"))
    top = ranked_topk(
        per_fp, [F.desc("n_docs"), F.asc("fp")], TOP_N, rank_name="rank"
    )
    return (
        top.crossJoin(F.broadcast(n_corpus))
        .select(
            "rank",
            "fp",
            "n_docs",
            "n_occ",
            F.expr("div(1000 * n_docs, __n_corpus)")
            .cast("long")
            .alias("doc_share_permille"),
            "sample",
        )
        .orderBy("rank")
    )


def q_corpus_boilerplate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return boilerplate_passages(load_table(spark, sf_dir, "documents"))


BOILERPLATE_SQL = f"""
WITH toked AS (
  SELECT doc_id, {sql_tokens('lower(text)')} AS t
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id, s, {sql_md5_hash48('s')} AS fp FROM (
    SELECT doc_id, unnest({sql_word_grams('t', SHINGLE_W)}) AS s FROM toked)
), per_fp AS (
  SELECT fp,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occ,
         min(s) AS sample
  FROM grams GROUP BY fp
  HAVING count(DISTINCT doc_id) >= 2
)
SELECT CAST(row_number() OVER (ORDER BY n_docs DESC, fp ASC) AS BIGINT) AS rank,
       fp, n_docs, n_occ,
       CAST((1000 * n_docs) // (SELECT count(*) FROM documents) AS BIGINT)
         AS doc_share_permille,
       sample
FROM per_fp
ORDER BY n_docs DESC, fp ASC
LIMIT {TOP_N}
"""
