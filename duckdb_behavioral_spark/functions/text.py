"""Text analysis operators over the ``documents`` table.

Each operator is a DataFrame transform built from JVM-side expressions
(no Python in the hot path) and ships with a DuckDB oracle in
functions/registry.py. Outputs are integers/strings only so the
cross-engine value hash is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.common import (
    char_hash,
    sql_char_hash,
    sql_tokens,
    tokens,
)

# Marker-word sets for the n-gram/stopword language heuristic. The
# testdata vocabulary is synthetic; the heuristic machinery (token
# marker hits → deterministic argmax) is what matters.
LANG_MARKERS = {
    "en": ("the", "a", "key", "order"),
    "db": ("table", "join", "query", "scan", "merge"),
    "perf": ("fast", "slow", "small", "big"),
    "data": ("data", "row", "column", "value", "vector"),
}
_LANG_ORDER = ["en", "db", "perf", "data"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return load_table(spark, sf_dir, "documents")


def token_stats(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token statistics (all-integer outputs)."""
    toks = tokens(F.col(text))
    total_len = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    n = F.size(toks).cast("long")
    # Positive int division: floor over exact small doubles == integer div.
    avg_permille = F.floor((total_len * 1000) / n).cast("long")
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_max(F.transform(toks, F.length)).cast("long").alias("max_token_len"),
        avg_permille.alias("avg_len_permille"),
    )


def lang_id(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-hit language heuristic with deterministic argmax."""
    toks = tokens(F.col(text))
    hits = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
        for lang, words in LANG_MARKERS.items()
    }
    h = {k: hits[k].alias(f"hit_{k}") for k in _LANG_ORDER}
    base = df.select(F.col(id_col), *h.values())
    e, d, p, dt = (F.col(f"hit_{k}") for k in _LANG_ORDER)
    pred = (
        F.when((e >= d) & (e >= p) & (e >= dt), "en")
        .when((d >= p) & (d >= dt), "db")
        .when(p >= dt, "perf")
        .otherwise("data")
    )
    return base.select(id_col, *[f"hit_{k}" for k in _LANG_ORDER], pred.alias("lang_pred"))


def fingerprint(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rolling polynomial hash over the full text (document fingerprint)."""
    return df.select(F.col(id_col), char_hash(F.col(text)).alias("fp"))


def quality_score(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Integer quality heuristics: length band, stopword permille,
    uniqueness permille (vocabulary richness)."""
    toks = tokens(F.col(text))
    n = F.size(toks).cast("long")
    stop = F.size(F.filter(toks, lambda t: t.isin("the", "a"))).cast("long")
    uniq = F.size(F.array_distinct(toks)).cast("long")
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.length(text).cast("long").alias("n_chars_calc"),
        F.floor((stop * 1000) / n).cast("long").alias("stopword_permille"),
        F.floor((uniq * 1000) / n).cast("long").alias("distinct_permille"),
    )


# --- PII scrub + normalization ---------------------------------------------

# Conservative patterns inside the Java-regex ∩ RE2 common subset
# (character classes, bounded repeats — no lookaround, no backrefs) so
# Spark and the DuckDB oracle interpret them identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9 -]{7,}[0-9]"


def scrub_pii(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, clean, n_emails, n_phones) — mask emails/phones, then
    normalize (lowercase, collapse whitespace, trim).

    Order matters: emails are masked before the phone pass so digit
    runs inside addresses can't double-match; normalization runs last
    so the mask tags are what survive it. All expressions are JVM
    regex/codegen — a pure map-side projection, no shuffle, scales
    linearly with the corpus.
    """
    t = F.col(text)
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long")
    masked = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_phones = F.regexp_count(masked, F.lit(PII_PHONE_RE)).cast("long")
    masked = F.regexp_replace(masked, PII_PHONE_RE, "<PHONE>")
    clean = F.trim(F.regexp_replace(F.lower(masked), r"\s+", " "))
    return df.select(
        F.col(id_col),
        clean.alias("clean"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


# --- query entries --------------------------------------------------------

def q_text_token_stats(spark, sf_dir):
    return token_stats(_docs(spark, sf_dir))


def q_text_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_text_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def q_text_scrub_pii(spark, sf_dir):
    """The synthetic corpus contains no PII, so the query plants a
    deterministic email + phone per document (derived from source /
    doc_id, mirrored in the oracle) — the masking path is exercised on
    every row, not vacuously green."""
    docs = _docs(spark, sf_dir)
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" Contact "),
            F.col("source"),
            F.lit("@example.com  or +1 555-01"),
            ((F.col("doc_id") % 90) + 10).cast("string"),
        ),
    )
    return scrub_pii(planted)


TOKS = sql_tokens("text")

TOKEN_STATS_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CAST(list_max(list_transform(toks, x -> len(x))) AS BIGINT) AS max_token_len,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(toks, x -> CAST(len(x) AS BIGINT))), (a,b) -> a + b) * 1000
            // len(toks) AS BIGINT) AS avg_len_permille
FROM t
"""


def _marker_sql(words):
    lst = ", ".join(f"'{w}'" for w in words)
    return f"CAST(len(list_filter(toks, t -> t IN ({lst}))) AS BIGINT)"


LANG_ID_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
h AS (
  SELECT doc_id,
         {_marker_sql(LANG_MARKERS['en'])}   AS hit_en,
         {_marker_sql(LANG_MARKERS['db'])}   AS hit_db,
         {_marker_sql(LANG_MARKERS['perf'])} AS hit_perf,
         {_marker_sql(LANG_MARKERS['data'])} AS hit_data
  FROM t
)
SELECT doc_id, hit_en, hit_db, hit_perf, hit_data,
       CASE WHEN hit_en >= hit_db AND hit_en >= hit_perf AND hit_en >= hit_data THEN 'en'
            WHEN hit_db >= hit_perf AND hit_db >= hit_data THEN 'db'
            WHEN hit_perf >= hit_data THEN 'perf'
            ELSE 'data' END AS lang_pred
FROM h
"""

FINGERPRINT_SQL = f"""
SELECT doc_id, {sql_char_hash('text')} AS fp FROM documents
"""

SCRUB_PII_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' Contact ' || source || '@example.com  or +1 555-01'
              || CAST(doc_id % 90 + 10 AS VARCHAR) AS text
  FROM documents
), masked AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
         regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM planted
), masked2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t1, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
         regexp_replace(t1, '{PII_PHONE_RE}', '<PHONE>', 'g') AS t2
  FROM masked
)
SELECT doc_id,
       trim(regexp_replace(lower(t2), '\\s+', ' ', 'g')) AS clean,
       n_emails, n_phones
FROM masked2
"""

QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) * 1000 // len(toks) AS BIGINT)
         AS stopword_permille,
       CAST(len(list_distinct(toks)) * 1000 // len(toks) AS BIGINT) AS distinct_permille
FROM t
"""


# --- composite quality filter (rule engine with reasons) -------------------

# thresholds chosen so each rule fires on part of the synthetic
# corpus (n_tokens spans 10-99, stopword 0-222 permille, distinct
# 276-1000 permille at sf0.01) — the filter is exercised, not vacuous
QF_MIN_TOKENS = 20
QF_MIN_STOPWORD_PERMILLE = 15
QF_MIN_DISTINCT_PERMILLE = 400
QF_TOO_SHORT = 1
QF_NO_STOPWORDS = 2
QF_REPETITIOUS = 4


def quality_filter(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite keep/drop filter over the integer quality signals,
    with a REASONS BITMASK — the form a production curation pipeline
    needs (drop statistics per rule, auditable drops, rule ablations)
    rather than a bare boolean.

    Rules (bit set = violated): 1 too short, 2 stopword-free (word
    salad / non-prose), 4 low vocabulary richness (repetitious).
    ``kept = reason_mask == 0``. Everything is a map-side integer
    expression over one scan — zero shuffles, trivially scan-bound at
    any corpus size; thresholds are module constants so ablation =
    one-line change mirrored in the oracle.
    """
    toks = tokens(F.col(text))
    n = F.size(toks).cast("long")
    stop_pm = F.floor(
        (F.size(F.filter(toks, lambda t: t.isin("the", "a"))).cast("long") * 1000) / n
    )
    uniq_pm = F.floor((F.size(F.array_distinct(toks)).cast("long") * 1000) / n)
    mask = (
        F.when(n < QF_MIN_TOKENS, QF_TOO_SHORT).otherwise(0)
        + F.when(stop_pm < QF_MIN_STOPWORD_PERMILLE, QF_NO_STOPWORDS).otherwise(0)
        + F.when(uniq_pm < QF_MIN_DISTINCT_PERMILLE, QF_REPETITIOUS).otherwise(0)
    )
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        stop_pm.cast("long").alias("stopword_permille"),
        uniq_pm.cast("long").alias("distinct_permille"),
        mask.cast("long").alias("reason_mask"),
        (mask == 0).cast("long").alias("kept"),
    )


def q_text_quality_filter(spark, sf_dir):
    return quality_filter(_docs(spark, sf_dir))


QUALITY_FILTER_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sig AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) * 1000
              // len(toks) AS BIGINT) AS stopword_permille,
         CAST(len(list_distinct(toks)) * 1000 // len(toks) AS BIGINT)
           AS distinct_permille
  FROM t
)
SELECT doc_id, n_tokens, stopword_permille, distinct_permille,
       CAST((CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN {QF_TOO_SHORT} ELSE 0 END)
          + (CASE WHEN stopword_permille < {QF_MIN_STOPWORD_PERMILLE}
                  THEN {QF_NO_STOPWORDS} ELSE 0 END)
          + (CASE WHEN distinct_permille < {QF_MIN_DISTINCT_PERMILLE}
                  THEN {QF_REPETITIOUS} ELSE 0 END) AS BIGINT) AS reason_mask,
       CAST(CASE WHEN n_tokens >= {QF_MIN_TOKENS}
                  AND stopword_permille >= {QF_MIN_STOPWORD_PERMILLE}
                  AND distinct_permille >= {QF_MIN_DISTINCT_PERMILLE}
                 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM sig
"""


# --- BPE-ish token counting ------------------------------------------------

# GPT-2-style pre-tokenizer shape: letter runs, single digits,
# single non-alphanumeric marks. Kept inside the Java-regex ∩ RE2
# common subset (see the PII patterns above) so Spark and DuckDB
# split identically.
BPE_PRETOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
BPE_CHARS_PER_PIECE = 4  # ~4 chars/subword heuristic (public lore)


def token_count_bpe(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace vs BPE-ish token counts per document — the number a
    training-budget computation actually needs (sequence packing,
    token-budget mixing, cost estimates run on SUBWORD counts, and
    whitespace counts under-estimate them badly on long words).

    ``n_pieces`` = matches of the GPT-2-style pre-tokenizer regex
    (letter runs / single digits / single marks); ``est_subwords``
    models BPE splitting of each letter-run as ceil(len/4) subwords —
    integer arithmetic, identical cross-engine. Pure map-side regex +
    array fold in one scan, no shuffle.
    """
    pieces = F.expr(f"regexp_extract_all({text}, '{BPE_PRETOKEN_RE}', 0)")
    est = F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda a, p: a
        + F.floor(
            (F.length(p) + (BPE_CHARS_PER_PIECE - 1)) / BPE_CHARS_PER_PIECE
        ).cast("long"),
    )
    return df.select(
        F.col(id_col),
        F.size(tokens(F.col(text))).cast("long").alias("n_ws_tokens"),
        F.size(pieces).cast("long").alias("n_pieces"),
        est.alias("est_subwords"),
    )


def q_token_count_bpe(spark, sf_dir):
    return token_count_bpe(_docs(spark, sf_dir))


TOKEN_BPE_SQL = f"""
WITH p AS (
  SELECT doc_id, {TOKS} AS toks,
         regexp_extract_all(text, '{BPE_PRETOKEN_RE}') AS pieces
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_ws_tokens,
       CAST(len(pieces) AS BIGINT) AS n_pieces,
       CAST(list_sum(list_transform(pieces,
              x -> (length(x) + {BPE_CHARS_PER_PIECE - 1})
                     // {BPE_CHARS_PER_PIECE})) AS BIGINT) AS est_subwords
FROM p
"""


# --- winnowing fingerprint selection (MOSS) --------------------------------

WINNOW_GRAM = 5  # words per k-gram
WINNOW_WIN = 4  # hashes per selection window


def winnow_selected(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, fp) — each doc's DISTINCT winnowing-selected fingerprints,
    exploded. The shared core of ``winnow_fingerprints`` (per-doc
    counts) and ``dedup.winnow_pairs`` (cross-doc candidates)."""
    base = df.select(F.col(id_col), tokens(F.col(text)).alias("__toks"))
    from duckdb_behavioral_spark.functions.common import word_grams_indexed

    grams = word_grams_indexed(F.col("__toks"), WINNOW_GRAM)
    hs = F.transform(
        grams,
        lambda g: F.conv(
            F.substring(F.md5(F.concat(F.lit("wn:"), g)), 1, 12), 16, 10
        ).cast("long"),
    )
    staged = base.select(F.col(id_col), hs.alias("__hs"))
    nw = F.size("__hs") - (WINNOW_WIN - 1)
    sel = F.when(
        nw > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), nw),
                lambda i: F.array_min(F.slice("__hs", i, WINNOW_WIN)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return staged.select(F.col(id_col), F.explode(sel).alias("fp"))


def winnow_fingerprints(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
    algorithm): hash every word ``WINNOW_GRAM``-gram, slide a
    ``WINNOW_WIN``-hash window, keep each window's MINIMUM. The
    selected set is position-robust — any shared substring of at
    least gram+win-1 words between two documents GUARANTEES a shared
    selected fingerprint, which plain every-k-th or full-text hashing
    can't promise. Output per doc: gram count, number of distinct
    selected fingerprints, and the smallest (a stable signature).

    Scale shape: everything is per-document array arithmetic in one
    map-side scan — the O(n_grams * win) fold is bounded by document
    length, embarrassingly parallel, and shuffles nothing. Hashes are
    the repo-standard 48-bit md5 slices, so the oracle is exact.
    """
    base = df.select(F.col(id_col), tokens(F.col(text)).alias("__toks"))
    from duckdb_behavioral_spark.functions.common import word_grams_indexed

    grams = word_grams_indexed(F.col("__toks"), WINNOW_GRAM)
    hs = F.transform(
        grams,
        lambda g: F.conv(
            F.substring(F.md5(F.concat(F.lit("wn:"), g)), 1, 12), 16, 10
        ).cast("long"),
    )
    staged = base.select(
        F.col(id_col), F.size(grams).cast("long").alias("n_grams"), hs.alias("__hs")
    )
    nw = F.size("__hs") - (WINNOW_WIN - 1)
    sel = F.when(
        nw > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), nw),
                lambda i: F.array_min(F.slice("__hs", i, WINNOW_WIN)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return staged.select(
        F.col(id_col),
        "n_grams",
        F.size(sel).cast("long").alias("n_selected"),
        F.array_min(sel).alias("min_fp"),
    )


def q_winnow_fingerprints(spark, sf_dir):
    return winnow_fingerprints(_docs(spark, sf_dir))


WINNOW_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {WINNOW_GRAM} THEN
           list_transform(range(1, len(toks) - {WINNOW_GRAM - 2}),
             i -> array_to_string(toks[i:i+{WINNOW_GRAM - 1}], ' '))
         ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM t
), h AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
         list_transform(grams,
           x -> ('0x' || substr(md5('wn:' || x), 1, 12))::BIGINT) AS hs
  FROM g
), s AS (
  SELECT doc_id, n_grams,
         CASE WHEN len(hs) >= {WINNOW_WIN} THEN
           list_distinct(list_transform(range(1, len(hs) - {WINNOW_WIN - 2}),
             i -> list_min(hs[i:i+{WINNOW_WIN - 1}])))
         ELSE CAST([] AS BIGINT[]) END AS sel
  FROM h
)
SELECT doc_id, n_grams,
       CAST(len(sel) AS BIGINT) AS n_selected,
       list_min(sel) AS min_fp
FROM s
"""
