"""Corpus-level text statistics: decontamination, repetition signals,
per-document top terms with corpus document frequency.

These differ from functions/text.py in that each operator needs
corpus-wide state (an eval-set shingle index, per-gram occurrence
counts, a document-frequency table), not just per-row expressions.
The Spark shapes are the ones that survive 100 TB:

- decontamination broadcasts the *eval-set* gram index (benchmarks are
  tiny next to a training corpus) so the train side is a single
  map-side semi-probe — no shuffle of the big side beyond the per-doc
  count aggregation;
- repetition / term stats explode to (doc, gram) and aggregate with
  map-side partial combine — linear in corpus size, no pairwise work;
- the document-frequency join shuffles on the term key, which is the
  natural partitioning for a vocabulary-sized table.

Parity targets (reference has no corpus ops; these extend it the same
way the reference's README positions behavioral aggregates as
"pipeline building blocks" — see tomtom215/duckdb-behavioral
README.md "Composing with SQL"): every query ships a plain-SQL DuckDB
oracle and all outputs are integers/strings so cross-engine value
hashes are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import (
    shingles3,
    sql_shingles3,
    sql_tokens,
    sql_word_grams,
    tokens,
    word_grams_indexed,
)

# Every 20th doc plays the held-out eval set; threshold in permille of
# a train doc's distinct 3-gram shingles that also occur in the eval
# set before the doc is flagged contaminated.
DECON_EVAL_MOD = 20
DECON_THRESHOLD_PERMILLE = 200

TOPK_TERMS = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return load_table(spark, sf_dir, "documents")


# --- decontamination -------------------------------------------------------

def decontaminate_ngram(
    train: DataFrame,
    eval_set: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold_permille: int = DECON_THRESHOLD_PERMILLE,
) -> DataFrame:
    """Flag training documents whose word-3-gram shingles overlap the
    eval set (benchmark decontamination).

    Returns one row per training document:
    ``(id, n_grams, matched, overlap_permille, contaminated)``.

    Scale shape: the distinct eval gram set is broadcast (an eval
    benchmark is MBs against a 100 TB corpus), so the train side is
    scanned once, probed map-side, and aggregated per doc with partial
    combine. No shuffle of raw text, no pairwise comparison.
    """
    # tokens are projected into a bound attribute BEFORE shingling:
    # interpreted HOF evaluation has no common-subexpression
    # elimination, so the inline composition re-splits the document
    # once per shingles3 reference (~2x the stage).
    ev = (
        eval_set.select(tokens(F.col(text)).alias("__toks"))
        .select(F.explode(shingles3(F.col("__toks"))).alias("__g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # Single shingle pass: explode_outer keeps gram-less docs (NULL
    # gram row), the broadcast left join marks eval hits, and one
    # grouped agg yields both the gram count and the hit count — the
    # train text is scanned and shingled exactly once.
    tr = train.select(F.col(id_col), tokens(F.col(text)).alias("__toks")).select(
        F.col(id_col), shingles3(F.col("__toks")).alias("__grams")
    )
    out = (
        tr.select(F.col(id_col), F.explode_outer(F.col("__grams")).alias("__g"))
        .join(F.broadcast(ev), "__g", "left")
        .groupBy(id_col)
        .agg(
            F.count("__g").cast("long").alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("matched"),
        )
    )
    permille = F.when(
        F.col("n_grams") > 0, F.floor(F.col("matched") * 1000 / F.col("n_grams"))
    ).otherwise(F.lit(0)).cast("long")
    return out.select(
        id_col,
        "n_grams",
        "matched",
        permille.alias("overlap_permille"),
        F.when(permille >= threshold_permille, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("contaminated"),
    )


def q_decontaminate(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % DECON_EVAL_MOD == 0)
    tr = docs.where(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return decontaminate_ngram(tr, ev)


_SH = sql_shingles3("toks")

DECONTAMINATE_SQL = f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS grams FROM t),
ev AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
tr AS (SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0),
counts AS (
  SELECT tr.doc_id, count(ev.g) AS matched
  FROM tr LEFT JOIN ev ON tr.g = ev.g
  GROUP BY tr.doc_id
)
SELECT s.doc_id,
       CAST(len(s.grams) AS BIGINT) AS n_grams,
       CAST(coalesce(c.matched, 0) AS BIGINT) AS matched,
       CAST(CASE WHEN len(s.grams) > 0
                 THEN coalesce(c.matched, 0) * 1000 // len(s.grams)
                 ELSE 0 END AS BIGINT) AS overlap_permille,
       CAST(CASE WHEN len(s.grams) > 0
                  AND coalesce(c.matched, 0) * 1000 // len(s.grams)
                      >= {DECON_THRESHOLD_PERMILLE}
                 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
FROM sh s LEFT JOIN counts c ON s.doc_id = c.doc_id
WHERE s.doc_id % {DECON_EVAL_MOD} <> 0
"""


# --- repetition signals ----------------------------------------------------

def repetition_stats(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, all-integer outputs.

    Per document:
    - ``top2_gram`` / ``top2_count`` — the most frequent word 2-gram
      (ties broken by gram text ascending) and its occurrence count;
    - ``top2_char_permille`` — permille of the trimmed text's
      characters covered by occurrences of that 2-gram
      (``count * len(gram) * 1000 // n_chars``);
    - ``dup3_permille`` — permille of word-3-gram instances whose gram
      occurs more than once in the document.

    Shape: explode → groupBy(doc, gram) with map-side combine → per-doc
    window/agg. Linear in total token count; the doc_id+gram shuffle
    key is high-cardinality and skew-free.
    """
    # One text scan: the token array is MATERIALIZED once per doc
    # (``__toks`` attribute) and both gram orders are built from it
    # with ``word_grams_indexed`` — one output string per gram, no
    # intermediate k-gram arrays (the shifted-zip_with ``word_grams``
    # construction allocated n-1 full interpreted-HOF arrays per
    # order; this reshape took the sf0.1 query from ~4.9s to ~1.3s,
    # the same fix that cut dedup_passage 26.5s -> 2s in round 4).
    # Both arrays are tagged, concatenated, and exploded once — one
    # (doc, tag, gram) shuffle with map-side combine serves both
    # signals.
    base = df.select(
        F.col(id_col),
        F.length(F.trim(F.col(text))).cast("long").alias("n_chars"),
        tokens(F.col(text)).alias("__toks"),
    )
    # ONE pass total (r12, guide §2.4): a per-doc SENTINEL struct
    # (n = 0, g = n_chars-as-string) rides the same explode as the
    # grams, so n_chars arrives at the per-doc aggregate through the
    # gram shuffle (8 extra bytes per DOC) and the previous second
    # text-column scan + doc-keyed join disappear. The gram arrays
    # coalesce to empty so a NULL/short text still emits its sentinel
    # row — those docs stayed alive through the old left join.
    _empty = F.array().cast("array<struct<n:int,g:string>>")
    tagged = base.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.coalesce(
                    F.transform(
                        word_grams_indexed(F.col("__toks"), 2),
                        lambda g: F.struct(F.lit(2).alias("n"), g.alias("g")),
                    ),
                    _empty,
                ),
                F.coalesce(
                    F.transform(
                        word_grams_indexed(F.col("__toks"), 3),
                        lambda g: F.struct(F.lit(3).alias("n"), g.alias("g")),
                    ),
                    _empty,
                ),
                F.array(
                    F.struct(
                        F.lit(0).alias("n"),
                        F.col("n_chars").cast("string").alias("g"),
                    )
                ),
            )
        ).alias("__t"),
    )
    counts = (
        tagged.select(F.col(id_col), F.col("__t.n").alias("__n"), F.col("__t.g").alias("__g"))
        .groupBy(id_col, "__n", "__g")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    # Both signals fall out of ONE second aggregation — a struct-min
    # ((-cnt, gram) lexicographic = highest count, ties by gram asc)
    # replaces the rank window, and the 3-gram sums ride along. A
    # filter-per-branch formulation pushes the __n filter below the
    # count aggregate and recomputes the explode per branch (no
    # exchange reuse — measured on the physical plan).
    per_doc = counts.groupBy(id_col).agg(
        F.min(
            F.when(
                F.col("__n") == 2,
                F.struct((-F.col("__cnt")).alias("nc"), F.col("__g").alias("g")),
            )
        ).alias("__top2"),
        F.sum(
            F.when((F.col("__n") == 3) & (F.col("__cnt") >= 2), F.col("__cnt")).otherwise(0)
        )
        .cast("long")
        .alias("__dup"),
        F.sum(F.when(F.col("__n") == 3, F.col("__cnt")).otherwise(0))
        .cast("long")
        .alias("__tot"),
        # the sentinel row: every doc has exactly one n==0 group
        F.max(F.when(F.col("__n") == 0, F.col("__g")))
        .cast("long")
        .alias("n_chars"),
    )
    out = per_doc.select(
        F.col(id_col),
        F.col("n_chars"),
        F.col("__top2.g").alias("top2_gram"),
        (-F.col("__top2.nc")).cast("long").alias("top2_count"),
        "__dup",
        "__tot",
    )
    top_chars = F.coalesce(
        F.col("top2_count") * F.length("top2_gram"), F.lit(0)
    ).cast("long")
    dup_permille = F.when(
        F.coalesce(F.col("__tot"), F.lit(0)) > 0,
        F.floor(F.col("__dup") * 1000 / F.col("__tot")),
    ).otherwise(F.lit(0)).cast("long")
    return out.select(
        F.col(id_col),
        F.col("n_chars"),
        F.coalesce(F.col("top2_gram"), F.lit("")).alias("top2_gram"),
        F.coalesce(F.col("top2_count"), F.lit(0)).cast("long").alias("top2_count"),
        F.floor(top_chars * 1000 / F.col("n_chars")).cast("long").alias("top2_char_permille"),
        dup_permille.alias("dup3_permille"),
    )


def q_text_repetition(spark, sf_dir):
    return repetition_stats(_docs(spark, sf_dir))


REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, trim(text) AS text, {sql_tokens('text')} AS toks FROM documents),
base AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         {sql_word_grams('toks', 2)} AS g2,
         {sql_word_grams('toks', 3)} AS g3
  FROM t
),
c2 AS (
  SELECT doc_id, g, count(*) AS cnt
  FROM (SELECT doc_id, unnest(g2) AS g FROM base)
  GROUP BY doc_id, g
),
top2 AS (
  SELECT doc_id, g AS top2_gram, cnt AS top2_count
  FROM (SELECT doc_id, g, cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rk
        FROM c2)
  WHERE rk = 1
),
d3 AS (
  SELECT doc_id,
         sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup,
         sum(cnt) AS tot
  FROM (SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, unnest(g3) AS g FROM base)
        GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id,
       b.n_chars,
       coalesce(t2.top2_gram, '') AS top2_gram,
       CAST(coalesce(t2.top2_count, 0) AS BIGINT) AS top2_count,
       CAST(coalesce(t2.top2_count * length(t2.top2_gram), 0) * 1000 // b.n_chars
            AS BIGINT) AS top2_char_permille,
       CAST(CASE WHEN coalesce(d3.tot, 0) > 0
                 THEN d3.dup * 1000 // d3.tot ELSE 0 END AS BIGINT) AS dup3_permille
FROM base b
LEFT JOIN top2 t2 ON b.doc_id = t2.doc_id
LEFT JOIN d3 ON b.doc_id = d3.doc_id
"""


# --- per-doc top terms with corpus document frequency ----------------------

def topk_terms(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", k: int = TOPK_TERMS
) -> DataFrame:
    """Top-k terms per document ranked by (term frequency desc, term
    asc), each carrying its corpus document frequency.

    The ranking key is all-integer (tf, then lexicographic term) so the
    result is deterministic cross-engine — no float tf-idf in the sort.
    ``df_docs`` (number of documents containing the term) is the
    corpus-wide statistic a tf-idf weighting would consume.

    Shape: one explode + (doc, term) count with map-side combine; the
    document-frequency table derives from that same aggregate (no
    second scan) and joins back on the term key — a vocabulary-sized
    shuffle, the natural partitioning. Top-k is a per-doc window that
    AQE plans as WindowGroupLimit (rank pushdown), not a full sort.
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_docs"))
    w = Window.partitionBy(id_col).orderBy(F.col("tf").desc(), F.col("term").asc())
    return (
        tf.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .join(dfreq, "term", "inner")
        .select(
            F.col(id_col),
            F.col("rk").cast("long").alias("rk"),
            "term",
            "tf",
            "df_docs",
        )
    )


def q_topk_terms(spark, sf_dir):
    return topk_terms(_docs(spark, sf_dir))


TOPK_TERMS_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY term),
ranked AS (
  SELECT doc_id, term, tf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rk
  FROM tf
)
SELECT r.doc_id, CAST(r.rk AS BIGINT) AS rk, r.term, r.tf, d.df_docs
FROM ranked r JOIN dfreq d ON r.term = d.term
WHERE r.rk <= {TOPK_TERMS}
"""


def doc_rarity(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document rare-term density: how much of a doc's vocabulary
    appears NOWHERE else in the corpus.

    Hapax density is a standard curation signal — very high values
    flag OCR noise, mojibake, and random-string spam (every "term"
    unique); very low values flag boilerplate assembled entirely from
    corpus-common words. Output per doc: ``n_terms`` (distinct terms),
    ``n_hapax`` (those with corpus document-frequency 1), and
    ``hapax_permille`` = floor(1000 * n_hapax / n_terms) — integer
    output, cross-engine exact (the single 1000*h/t double op is
    identical IEEE everywhere; see functions/sketches.py float rules).

    Shape: the same (doc, term) distinct aggregate and term-keyed
    document-frequency table as ``topk_terms`` — one corpus scan, two
    vocabulary-keyed shuffles (term cardinality, not token count), a
    join back on term, and a per-doc re-aggregate. Everything is
    linear in distinct (doc, term) pairs; no pairwise anything.
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs")
    )
    per_doc = (
        tf.join(dfreq, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(F.when(F.col("df_docs") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_terms",
        "n_hapax",
        F.floor(F.lit(1000.0) * F.col("n_hapax") / F.col("n_terms"))
        .cast("long")
        .alias("hapax_permille"),
    )


def q_doc_rarity(spark, sf_dir):
    return doc_rarity(_docs(spark, sf_dir))


DOC_RARITY_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY term),
agg AS (
  SELECT tf.doc_id,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(SUM(CASE WHEN d.df_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax
  FROM tf JOIN dfreq d ON tf.term = d.term
  GROUP BY tf.doc_id
)
SELECT doc_id, n_terms, n_hapax,
       CAST(FLOOR(1000.0 * n_hapax / n_terms) AS BIGINT) AS hapax_permille
FROM agg
"""


def decontaminate_attributed(
    train: DataFrame,
    eval_set: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """Per-eval-document contamination attribution: for every training
    document sharing >= 1 word-3-gram shingle with the eval set, the
    single MOST-overlapping eval document and the containment score.

    ``decontaminate_ngram`` answers "is this train doc contaminated?"
    against the pooled eval shingles; removal pipelines also need
    "*by which benchmark document*" — to quarantine per benchmark, to
    audit false positives, and to report leakage per eval task. Output
    one row per contaminated train doc:
    ``(doc_id, eval_id, n_grams, matched, containment_permille)``
    with ``matched`` = distinct shingles shared with THAT eval doc and
    containment = floor(1000 * matched / n_grams) (integer, exact
    cross-engine). Ties break toward the smallest eval id.

    Scale shape: the (eval_id, shingle) table is broadcast (benchmark
    MBs vs corpus TBs); the train side is shingled once map-side,
    probed by broadcast hash join, and aggregated per (train, eval)
    pair — the pair count is bounded by train-shingle hits, not
    |train| x |eval|. The per-train top-1 is a WindowGroupLimit over
    the pair aggregate (partitioned by train doc — parallel).
    """
    from pyspark.sql import Window

    # bound-attribute tokens before shingling (see decontaminate_ngram)
    ev = eval_set.select(
        F.col(id_col).alias(eval_id_col), tokens(F.col(text)).alias("__toks")
    ).select(eval_id_col, F.explode(shingles3(F.col("__toks"))).alias("__g"))
    tr = train.select(F.col(id_col), tokens(F.col(text)).alias("__toks")).select(
        F.col(id_col), shingles3(F.col("__toks")).alias("__grams")
    )
    tr_g = tr.select(
        F.col(id_col),
        F.size("__grams").cast("long").alias("n_grams"),
        F.explode(F.col("__grams")).alias("__g"),
    )
    pairs = (
        tr_g.join(F.broadcast(ev), "__g")
        .groupBy(id_col, "n_grams", eval_id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("matched"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("matched").desc(), F.col(eval_id_col).asc()
    )
    return (
        pairs.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            id_col,
            eval_id_col,
            "n_grams",
            "matched",
            F.floor(F.lit(1000.0) * F.col("matched") / F.col("n_grams"))
            .cast("long")
            .alias("containment_permille"),
        )
    )


def q_decontaminate_attributed(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % DECON_EVAL_MOD == 0)
    tr = docs.where(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return decontaminate_attributed(tr, ev)


DECONTAMINATE_ATTR_SQL = f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS grams FROM t),
ev AS (
  SELECT doc_id AS eval_id, unnest(grams) AS g
  FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0
), tr AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, unnest(grams) AS g
  FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0
), pairs AS (
  SELECT tr.doc_id, tr.n_grams, ev.eval_id,
         CAST(COUNT(*) AS BIGINT) AS matched
  FROM tr JOIN ev USING (g)
  GROUP BY tr.doc_id, tr.n_grams, ev.eval_id
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY matched DESC, eval_id ASC) AS rk
  FROM pairs
)
SELECT doc_id, eval_id, n_grams, matched,
       CAST(FLOOR(1000.0 * matched / n_grams) AS BIGINT)
         AS containment_permille
FROM ranked WHERE rk = 1
"""


COOC_VOCAB = 64  # co-occurrence restricted to the top-F df terms
COOC_TOP = 50  # emitted pairs


def term_cooccurrence(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top co-occurring term pairs over a BOUNDED vocabulary — word
    association mining with an explicit scale contract.

    Naive co-occurrence self-joins every document's distinct-term set
    against itself: O(sum over docs of t_d^2), which a single
    10k-distinct-term document turns into 50M pairs. The scalable
    contract caps the vocabulary first: the global top-``COOC_VOCAB``
    terms by document frequency (distributed TakeOrdered, then a
    broadcast semi-filter) bound the per-doc pair fan-out at
    F^2/2 REGARDLESS of document size, so the doc-keyed self-join is
    linear in the corpus with a fixed constant. Ranking keys are
    all-integer (pair doc-count desc, then lexicographic) — no float
    anywhere. Output: (pair_rank, t1, t2, n_docs_both, df_t1, df_t2).
    """
    from pyspark.sql.functions import broadcast

    from duckdb_behavioral_spark.functions.topk import ranked_topk

    # Checkpoint barrier: ``td`` (the tokenize+explode scan) feeds the
    # document-frequency aggregate AND both self-join sides via tdv —
    # without it the corpus is re-tokenized per consumer (plan showed
    # 4 documents scans).
    td = df.select(
        F.col(id_col).alias("__d"),
        F.explode(F.array_distinct(tokens(F.col(text)))).alias("term"),
    ).localCheckpoint(eager=False)
    dfreq = td.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_t"))
    vocab = (
        dfreq.orderBy(F.col("df_t").desc(), F.col("term").asc())
        .limit(COOC_VOCAB)
    )
    tdv = td.join(broadcast(vocab), "term")
    a = tdv.select("__d", F.col("term").alias("t1"), F.col("df_t").alias("df_t1"))
    b = tdv.select("__d", F.col("term").alias("t2"), F.col("df_t").alias("df_t2"))
    co = (
        a.join(b, ["__d"])
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "df_t1", "t2", "df_t2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_both"))
    )
    return ranked_topk(
        co,
        [F.col("n_docs_both").desc(), F.col("t1").asc(), F.col("t2").asc()],
        COOC_TOP,
    ).select(
        F.col("rank").alias("pair_rank"),
        "t1", "t2", "n_docs_both", "df_t1", "df_t2",
    )


def q_term_cooccurrence(spark, sf_dir):
    return term_cooccurrence(_docs(spark, sf_dir))


TERM_COOC_SQL = f"""
WITH td AS (
  SELECT DISTINCT doc_id AS d, unnest({sql_tokens('text')}) AS term
  FROM documents
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM td GROUP BY term
), vocab AS (
  SELECT term, df_t FROM dfreq ORDER BY df_t DESC, term ASC LIMIT {COOC_VOCAB}
), tdv AS (
  SELECT td.d, td.term, vocab.df_t FROM td JOIN vocab USING (term)
), co AS (
  SELECT a.term AS t1, a.df_t AS df_t1, b.term AS t2, b.df_t AS df_t2,
         CAST(COUNT(*) AS BIGINT) AS n_docs_both
  FROM tdv a JOIN tdv b ON a.d = b.d AND a.term < b.term
  GROUP BY a.term, a.df_t, b.term, b.df_t
), r AS (
  SELECT CAST(row_number() OVER (
           ORDER BY n_docs_both DESC, t1 ASC, t2 ASC) AS BIGINT) AS pair_rank,
         t1, t2, n_docs_both, df_t1, df_t2
  FROM co
)
SELECT pair_rank, t1, t2, n_docs_both, df_t1, df_t2
FROM r WHERE pair_rank <= {COOC_TOP}
"""
