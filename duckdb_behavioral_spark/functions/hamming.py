"""SimHash Hamming-distance histogram over banded candidate pairs —
the calibration readout for a SimHash dedup deployment: how are
candidate distances distributed, and where should the cut-off sit?

Candidate generation is Hamming-LSH on a 64-bit SimHash: split the
signature into 4 x 16-bit bands; by pigeonhole, any pair within
Hamming distance 3 shares at least one exact band, so a 4-way band
join finds ALL such pairs (and a superset up to the ``HAM_MAX``
report cut) with NO all-pairs stage. Distances are
``bit_count(xor)`` — pure integer ops, identical on both engines.

Scale shape (the round-8 version keyed 8-bit bands over a 32-bit
signature: <= 1024 distinct join keys, so bucket occupancy grew
linearly with corpus size and the self-join emitted Theta(n^2/256)
candidates — quadratic at 100x):

- 16-bit bands give 65,536 keys per band (262,144 buckets total), a
  256x cut in expected bucket occupancy at the same corpus size;
- buckets are additionally FREQUENCY-CAPPED at ``HAM_BAND_CAP`` docs
  (the ``WINNOW_FP_CAP`` convention, functions/dedup.py): a bucket
  beyond the cap is a near-identical mega-cluster / boilerplate
  pile-up whose intra-distances are ~0 and whose quadratic fan-out
  would swamp the join; dropping it is the documented fidelity cut.
  With the cap, per-bucket fan-out is <= CAP^2/2 candidates and the
  TOTAL join output is bounded by buckets x CAP^2/2 — independent of
  corpus size. The cap is mirrored verbatim in the oracle SQL, so
  cross-engine parity holds at every scale, and it never triggers at
  the test SFs (sf0.1 buckets hold ~1 doc).

The 64-bit signature is two independent 32-bit sign-sum halves over
two disjoint md5-prefix token hashes (bits 0-47 from hex chars 1-12,
bits 48-63 from chars 13-24); bit 63 is assembled as the two's-
complement term -2^63, representable as BIGINT in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "simhash64",
    "simhash_hamming_hist",
    "q_dedup_simhash_hamming_hist",
]

N_BANDS = 4  # 16-bit bands over the 64-bit simhash
BAND_BITS = 16
BAND_MASK = (1 << BAND_BITS) - 1  # 65535
HAM_MAX = 8  # report pairs up to this Hamming distance
HAM_BAND_CAP = 256  # drop band buckets larger than this (fidelity cut)

_BIT63 = -(1 << 63)  # two's-complement value of a lone bit 63


def simhash64(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash of token hashes (term-frequency weighted).

    Same exploded sign-sum design as ``dedup.simhash32`` (one row per
    token hash, grouped codegen'd aggregates with map-side partials),
    widened to 64 bits via two disjoint 48-bit md5-prefix hashes per
    token. The md5 runs ONCE per token (the HOF lambda emits the hex
    digest; the two 48-bit halves are derived from the MATERIALIZED
    column, so the 64 aggregate expressions fold over plain attribute
    refs — interpreted HOF evaluation does not CSE, and a per-half md5
    in the lambda measured ~2x the signature stage). ``explode_outer``
    keeps zero-token docs (simhash 0)."""
    base = df.select(
        F.col(id_col),
        F.explode_outer(
            F.transform(
                F.split(F.trim(F.col(text)), r"\s+"),
                lambda t: F.md5(t.cast("binary")),
            )
        ).alias("__m"),
    ).select(
        id_col,
        F.conv(F.substring(F.col("__m"), 1, 12), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(F.col("__m"), 13, 12), 16, 10).cast("long").alias("h2"),
    )

    # expr-STRING construction of the 64 sign-sums + assembly (r13,
    # the banded_from_hashes lesson — the per-Column py4j build of 64
    # nested when-trees cost ~1s of serial driver time per build);
    # executed arithmetic unchanged
    def sign_sql(src: str, b: int) -> str:
        return (
            f"sum(CASE WHEN {src} IS NULL THEN 0 WHEN"
            f" (shiftright({src}, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        )

    sums = base.groupBy(id_col).agg(
        *[F.expr(sign_sql("h1", b)).alias(f"__b{b}") for b in range(48)],
        *[F.expr(sign_sql("h2", b - 48)).alias(f"__b{b}") for b in range(48, 64)],
    )
    terms = [
        f"CASE WHEN __b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(63)
    ]
    # bit 63 is the two's-complement term; the literal is spelled as
    # (-(2^63-1) - 1) so the SQL parser stays inside BIGINT
    terms.append(
        "CASE WHEN __b63 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT)"
        " ELSE 0 END"
    )
    out = " + ".join(terms)
    return sums.select(
        F.col(id_col), F.expr(f"CAST(0 AS BIGINT) + {out}").alias("simhash")
    )


def simhash_hamming_hist(
    docs: DataFrame | None = None, sig: DataFrame | None = None
) -> DataFrame:
    """(hamming, n_pairs) over 16-bit-band candidate pairs, d <= HAM_MAX.

    ``sig`` lets callers supply precomputed (doc_id, simhash)
    signatures (assumed cheap to re-scan, e.g. already barriered)."""
    if sig is None:
        # two join sides would re-run the signature pipeline — barrier
        # it; a supplied sig (the parquet memo) is already a plain scan
        sig = simhash64(docs).localCheckpoint(eager=False)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), BAND_BITS * b)
                        .bitwiseAND(F.lit(BAND_MASK))
                        .alias("key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("__bb"),
    ).select(
        "doc_id",
        "simhash",
        F.col("__bb.band").alias("band"),
        F.col("__bb.key").alias("key"),
    )
    # frequency cap: only buckets with 2..HAM_BAND_CAP members join
    # (singletons can't form pairs; oversize buckets are the documented
    # fidelity cut — bounded fan-out at any corpus size)
    ok = (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where((F.col("__n") >= 2) & (F.col("__n") <= HAM_BAND_CAP))
        .select("band", "key")
    )
    # bucket-local pairing (r12, guide §2.4 — the dedup.bucket_pairs
    # device): the cap's filter join leaves the member rows hash-
    # partitioned on (band, key), so each bucket groups into one
    # <= HAM_BAND_CAP member array with NO further exchange, and the
    # pair distances are generated inside the group by two chained
    # codegen'd posexplodes + index filter (r13 — see
    # dedup.bucket_pairs for why this replaced the interpreted
    # transform(slice(...)) pair device). The pre-r12 self-equi-join
    # exchanged the capped rows once per side.
    capped = banded.join(ok, ["band", "key"])
    mems = capped.groupBy("band", "key").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("__ds")
    )
    cand = (
        mems.select(F.posexplode("__ds").alias("__i", "__a"), "__ds")
        .select("__a", F.col("__i"), F.posexplode("__ds").alias("__j", "__b"))
        .where(F.col("__j") > F.col("__i"))
        .select(
            F.col("__a.doc_id").alias("doc_a"),
            F.col("__b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("__a.simhash").bitwiseXOR(F.col("__b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= HAM_MAX)
        .distinct()  # pairs sharing several bands count once
    )
    return (
        cand.groupBy(F.col("hamming").cast("long").alias("hamming"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("hamming")
    )


def simhash64_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``simhash64`` signatures for a testdata dir — computed from the
    parquet input on every call (the pre-r13 cross-query parquet memo
    was result caching under the bench contract)."""
    from duckdb_behavioral_spark.functions.dedup import _docs

    return simhash64(_docs(spark, sf_dir))


def q_dedup_simhash_hamming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.functions.dedup import _docs

    # docs= (not a precomputed sig=): the builder checkpoints the
    # signature pipeline itself, which the two banded consumers share
    return simhash_hamming_hist(docs=_docs(spark, sf_dir))


def _simhash64_sql_bits() -> str:
    terms = []
    for b in range(48):
        terms.append(
            f"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(th1, h -> CAST(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END AS BIGINT))), "
            f"(x, y) -> x + y) > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        )
    for b in range(48, 64):
        val = _BIT63 if b == 63 else (1 << b)
        terms.append(
            f"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(th2, h -> CAST(CASE WHEN (h >> {b - 48}) & 1 = 1 THEN 1 ELSE -1 END AS BIGINT))), "
            f"(x, y) -> x + y) > 0 THEN CAST({val} AS BIGINT) ELSE 0 END"
        )
    return " + ".join(terms)


def _hamming_sql() -> str:
    from duckdb_behavioral_spark.functions.common import sql_tokens

    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform({sql_tokens('text')}, x -> CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT)) AS th1,
         list_transform({sql_tokens('text')}, x -> CAST(('0x' || substr(md5(x), 13, 12)) AS BIGINT)) AS th2
  FROM documents
), sig AS (
  SELECT doc_id, CAST({_simhash64_sql_bits()} AS BIGINT) AS simhash FROM t
), banded AS (
  SELECT doc_id, simhash, u.band,
         (simhash >> (u.band * {BAND_BITS})) & {BAND_MASK} AS key
  FROM sig, unnest(generate_series(0, {N_BANDS - 1})) u(band)
), ok AS (
  SELECT band, key FROM banded GROUP BY band, key
  HAVING count(*) BETWEEN 2 AND {HAM_BAND_CAP}
), capped AS (
  SELECT banded.* FROM banded JOIN ok USING (band, key)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAM_MAX}
)
SELECT CAST(hamming AS BIGINT) AS hamming,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM cand GROUP BY hamming ORDER BY hamming
"""
