"""The near-dup path's SQL-text builders against the Column helpers
they spell out: ``dedup._shingle_sets`` writes ``tokens``,
``shingles3`` and ``md5_hash48`` (functions/common.py) as Spark SQL
strings, so the two forms must give the same shingle sets;
``canonical.canonical_quality`` writes two ``text.quality_score``
columns, so it must give the same values."""

from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.canonical import canonical_quality
from duckdb_behavioral_spark.functions.common import md5_hash48, shingles3, tokens
from duckdb_behavioral_spark.functions.dedup import _shingle_sets
from duckdb_behavioral_spark.functions.text import quality_score

TEXTS = [
    "",
    "   ",
    "one",
    "one two",
    "one two three",
    "  one\ttwo \n three  four  ",
    "a b a b a b a b",  # repeated shingles collapse
    "naïve café über straße 東京 東京 東京",
    "x " * 60,
    "the quick brown fox jumps over the lazy dog the quick brown fox",
]


def test_shingle_sets_match_column_helpers(spark):
    docs = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")
    helpers = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(shingles3(tokens(F.col("text"))), md5_hash48)
        ).alias("sh"),
    )
    got = {r["doc_id"]: r["sh"] for r in _shingle_sets(docs).collect()}
    want = {r["doc_id"]: r["sh"] for r in helpers.collect()}
    assert got == want
    assert [len(got[i]) for i in range(5)] == [0, 0, 0, 0, 1]
    assert len(got[6]) == 2


def test_canonical_quality_matches_quality_score(spark):
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)) + [(len(TEXTS), None)], "doc_id long, text string")
    cols = ["doc_id", "n_tokens", "distinct_permille"]
    got = canonical_quality(docs)
    want = quality_score(docs).select(*cols)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
