"""Full-text relevance search over the documents corpus: inverted
term statistics + BM25-family scoring + top-k retrieval.

A training-data pipeline needs corpus search for curation (find docs
matching a probe query, rank near-duplicate candidates, spot-check
decontamination hits). This builds the classic two-table IR model on
DataFrames:

- term stats: document frequency per term (one explode + groupBy);
- per-(doc, term) term frequency;
- BM25 scoring against a small query term set, top-k by score.

Scale shape: ``bm25_topk`` scans the corpus ONCE, computing per-doc
length and per-query-term frequencies map-side (size-of-filter in
codegen — one row per doc, never one per (doc, term)); df + corpus
meta fold into a single broadcast row; scoring is a map-side
expression over the >=1-hit docs and the top-k is
TakeOrderedAndProject. Zero doc-grain shuffles, no all-pairs
anything. ``term_stats`` (the full inverted index: per-(doc, term)
tf, vocabulary df) stays available for index-building workloads where
the index itself is the output.

Determinism contract (cross-engine oracle hashing): the standard BM25
idf is ``ln((N - df + 0.5) / (df + 0.5) + 1)`` — but ``ln`` rounding
is libm-dependent, so this implementation defines its idf as the raw
odds ratio ``(N - df + 0.5) / (df + 0.5)`` (the same quantity before
the log; per-term monotone, strictly order-preserving for single-term
contributions). All remaining arithmetic is +,*,/ on doubles in a
FIXED parenthesization mirrored in the oracle SQL, and the final
score sums a fixed small number of per-term columns in textual order
— no data-dependent float reduction order anywhere (see
functions/sketches.py for the cross-engine float rules).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["term_stats", "bm25_topk"]

K1 = "1.2"
B = "0.75"
DEFAULT_QUERY = ("spark", "window", "hash", "join")
TOP_K = 10


def _tokens(text):
    return F.split(text, " ")


def _term_eq(t: str):
    # single-arg closure: a 2-arg lambda would make F.filter pass the
    # array INDEX as the second argument
    return lambda x: x == F.lit(t)


def term_stats(docs: DataFrame, text: str = "text", id_col: str = "doc_id"):
    """(tf, df, meta): per-(doc, term) frequencies, per-term document
    frequencies, and the 1-row (n_docs, avgdl) corpus summary.

    The corpus is scanned ONCE: tf is checkpointed (lazy) and df/meta/
    doc-length all derive from it (``dl = SUM(tf) per doc``; every doc
    has >= 1 token since split('') = [''], so tf covers all docs).
    Without the barrier each consumer re-runs the explode+agg subtree
    and AQE serializes ~12 mini-stages (measured 12.3s -> 3.2s on the
    sf0.1 bench)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(F.col(text))).alias("term"),
    )
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    meta = tf.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.sum("tf").alias("sum_dl"),
    )
    return tf, df_t, meta


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str] = DEFAULT_QUERY,
    k: int = TOP_K,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` docs for ``query_terms`` under odds-ratio-idf BM25.

    Output: (rank, doc_id, dl, n_hit_terms, score). Ties broken by
    doc_id ascending. Scoring (fixed parenthesization, mirrored in
    BM25_TOPK_SQL):

        w(term) = idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))
        idf     = (N - df + 0.5) / (df + 0.5)
        score   = w(q1) + w(q2) + ... (textual order, absent terms 0)
    """
    from pyspark.sql.functions import broadcast

    nq = len(query_terms)
    toks = _tokens(F.col(text))
    # ONE corpus scan, all map-side: per doc its length and the term
    # frequency of each of the nq fixed query terms (size-of-filter in
    # whole-stage codegen). No full-vocabulary inverted index — at
    # 100 TB you never build (doc, term) for every term to answer a
    # fixed small query set; term_stats() remains the library op for
    # when the whole index IS the product.
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        # long, matching the oracle's BIGINT len(string_split(...))
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, _term_eq(t))).cast("long").alias(f"tf{i}")
            for i, t in enumerate(query_terms)
        ],
    ).localCheckpoint(eager=False)  # two consumers: stats + scoring
    # df/meta fold into ONE broadcast row — vocabulary-free
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(nq)
        ],
    )
    any_hit = F.col("tf0") > 0
    for i in range(1, nq):
        any_hit = any_hit | (F.col(f"tf{i}") > 0)
    scored = per_doc.where(any_hit).crossJoin(broadcast(stats))
    k1, b = F.expr(f"CAST({K1} AS DOUBLE)"), F.expr(f"CAST({B} AS DOUBLE)")
    avgdl = F.col("sum_dl") / F.col("n_docs")

    def w(i: int):
        # tf = 0 -> w = +0.0 exactly (0 * finite / positive), the same
        # value the oracle's COALESCE(MAX(CASE ...), 0.0) produces for
        # an absent term — scores stay bitwise-equal cross-engine
        idf = (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5)) / (
            F.col(f"df{i}") + F.lit(0.5)
        )
        return idf * (F.col(f"tf{i}") * (k1 + F.lit(1.0))) / (
            F.col(f"tf{i}") + k1 * (F.lit(1.0) - b + b * F.col("dl") / avgdl)
        )

    score = w(0)
    for i in range(1, nq):
        score = score + w(i)
    n_hit = (F.col("tf0") > 0).cast("long")
    for i in range(1, nq):
        n_hit = n_hit + (F.col(f"tf{i}") > 0).cast("long")
    from duckdb_behavioral_spark.functions.topk import ranked_topk

    # TakeOrderedAndProject top-k — no global rank window over every
    # doc matching >= 1 query term
    return ranked_topk(
        scored.select(
            "doc_id", "dl", n_hit.alias("n_hit_terms"), score.alias("score")
        ),
        [F.col("score").desc(), F.col("doc_id").asc()],
        k,
    ).select("rank", "doc_id", "dl", "n_hit_terms", "score")


# --- declared query -------------------------------------------------------


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return bm25_topk(load_table(spark, sf_dir, "documents"))


def _sql_w(term: str) -> str:
    return (
        f"MAX(CASE WHEN term = '{term}' THEN w END)"
    )


_QTERMS_SQL = ", ".join(f"('{t}')" for t in DEFAULT_QUERY)

BM25_TOPK_SQL = f"""
WITH q(term) AS (VALUES {_QTERMS_SQL}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), meta AS (
  SELECT COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS sum_dl
  FROM documents
), dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), hits AS (
  SELECT tf.doc_id, dl.dl, tf.term,
         ((meta.n_docs - dft.df + CAST(0.5 AS DOUBLE))
            / (dft.df + CAST(0.5 AS DOUBLE)))
         * (tf.tf * (CAST({K1} AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         / (tf.tf + CAST({K1} AS DOUBLE)
              * (CAST(1.0 AS DOUBLE) - CAST({B} AS DOUBLE)
                 + CAST({B} AS DOUBLE) * dl.dl
                     / (CAST(meta.sum_dl AS DOUBLE) / meta.n_docs))) AS w
  FROM tf
  JOIN q USING (term)
  JOIN dft USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN meta
), pv AS (
  SELECT doc_id, dl, COUNT(*) AS n_hit_terms,
         {" + ".join(f"COALESCE({_sql_w(t)}, CAST(0.0 AS DOUBLE))" for t in DEFAULT_QUERY)}
           AS score
  FROM hits GROUP BY doc_id, dl
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS rank,
         doc_id, dl, n_hit_terms, score
  FROM pv
)
SELECT rank, doc_id, dl, n_hit_terms, score FROM r WHERE rank <= {TOP_K}
"""
