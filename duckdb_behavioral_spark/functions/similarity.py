"""Similarity search over the ``embeddings`` table.

- ``ann_cosine_topk``: brute-force cosine top-k — the correctness
  baseline. The query side is broadcast (tiny), the corpus streams
  through one pass; ranking happens in a per-query window. At 100 TB
  the corpus scan is embarrassingly parallel and the broadcast join
  avoids any corpus shuffle; only (queries × k) rows survive the
  window.
- ``lsh_bucket_topk``: the scale path — random-hyperplane signs bucket
  the corpus; candidates come from the query's bucket only, cutting the
  scanned fraction by ~2^bits (probe multiple buckets for recall).

Cross-engine determinism: all folds (dot product, norms) run
left-to-right over the vector index in both engines, so the IEEE
doubles — and therefore the rankings — are identical. Outputs carry
only integer ids/ranks.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

N_QUERIES = 10
TOP_K = 5
LSH_PLANES = 8  # hyperplane count for the bucketed variant

# Deterministic pseudo-hyperplanes: plane p component i =
# ((p*64+i)*2654435761 % 1000003) - 500001, embedded in both engines.
_PLANE_MULT = 2_654_435_761
_PLANE_MOD = 1_000_003
_PLANE_SHIFT = 500_001


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_table

    return load_table(spark, sf_dir, "embeddings")


def _vec_base(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The shared (cid, v, nrm) corpus projection: cast to double[],
    left-fold norm, zero-norm vectors dropped (undefined cosine —
    ANSI div-by-zero)."""
    return (
        df.select(
            F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .withColumn("nrm", _norm(F.col("v")))
        .where(F.col("nrm") > 0)
    )


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def _cos_sim_pair(qv, v, qn, nrm):
    """Arrow-vectorized pairwise cosine ``dot(qv, v) / (qn * nrm)`` —
    the guide-§4.2 replacement for the per-row interpreted
    ``_dot``/``aggregate`` fold on data-sized scoring paths (the HOF
    interpreter dominated the brute-force and probe scans ~5x, same
    finding as the ``_assign_clusters`` rewrite). Bitwise identical to
    the engines' shared left fold: the accumulation below runs
    dimension-by-dimension (``acc += qv_i * v_i`` is ``((0 + t0) + t1)
    + ...`` per row in IEEE doubles) and the denominator keeps the
    oracle's ``(qn * nrm)`` parenthesization."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _k(qvs: pd.Series, vs: pd.Series, qns: pd.Series, nrms: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack([np.asarray(x, dtype=np.float64) for x in qvs.values])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in vs.values])
        # fixed-dim contract (ADVICE r12): _vec_base feeds uniform
        # EMB_DIM vectors; a ragged or mismatched batch would
        # otherwise surface as an opaque stack/IndexError mid-task
        if A.shape[1] != B.shape[1]:
            raise ValueError(
                f"_cos_sim_pair requires equal vector dims, got query "
                f"dim {A.shape[1]} vs corpus dim {B.shape[1]}"
            )
        acc = np.zeros(B.shape[0])
        for i in range(B.shape[1]):  # exact left-fold over dimensions
            acc += A[:, i] * B[:, i]
        return pd.Series(acc / (qns.values * nrms.values))

    return _k(qv, v, qn, nrm)


def ann_cosine_topk(
    df: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    base: DataFrame | None = None,
) -> DataFrame:
    """``base`` lets a caller that evaluates several indexes over the
    same corpus (ann_recall_eval) pass ONE checkpointed
    (cid, v, nrm) projection instead of each operator re-deriving
    it."""
    e = _vec_base(df, id_col, vec_col) if base is None else base
    q = (
        e.where(F.col("cid") < n_queries)
        .select(F.col("cid").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
        # no-op cap (cid unique): plants a GlobalLimit in the build
        # subtree so plans.audit can PROVE the broadcast side bounded
        .limit(n_queries)
    )
    joined = e.join(F.broadcast(q), F.col("cid") != F.col("query_id"))
    # Arrow pairwise scoring (r12, guide §4.2) — the interpreted
    # per-row HOF fold was the scan's dominant per-task cost
    sim = _cos_sim_pair(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm"))
    ranked = joined.select(
        "query_id", F.col("cid").alias("neighbor_id"), sim.alias("sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
        ),
    )
    return ranked.where(F.col("rank") <= k).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id"
    )


ANN_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT cid, v,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm
  FROM e
), n2 AS (
  SELECT * FROM n WHERE nrm > 0
), q AS (
  SELECT cid AS query_id, v AS qv, nrm AS qn FROM n2 WHERE cid < {N_QUERIES}
), sims AS (
  SELECT q.query_id, c.cid AS neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.v[i])),
           (s, x) -> s + x) / (q.qn * c.nrm) AS sim
  FROM n2 c JOIN q ON c.cid <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
FROM ranked WHERE rank <= {TOP_K}
"""


def lsh_bucket_signature(vec, dim: int = 64, n_planes: int = LSH_PLANES):
    """Sign-bit bucket id from deterministic pseudo-hyperplanes."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(
                    *[
                        F.lit(((p * dim + i) * _PLANE_MULT % _PLANE_MOD) - _PLANE_SHIFT)
                        for i in range(dim)
                    ]
                ),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(0)
    return sig


def lsh_buckets(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, bucket) — random-hyperplane LSH bucket per vector."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(F.col(id_col), lsh_bucket_signature(v).alias("bucket"))


def _sql_plane(p: int, dim: int = 64) -> str:
    weights = ", ".join(
        str(((p * dim + i) * _PLANE_MULT % _PLANE_MOD) - _PLANE_SHIFT) for i in range(dim)
    )
    return (
        f"CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, 65), i -> v[i] * [{weights}][i])), (s, x) -> s + x) > 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END"
    )


LSH_BUCKETS_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id, CAST({' + '.join(_sql_plane(p) for p in range(LSH_PLANES))} AS BIGINT) AS bucket
FROM e
"""


# --- IVF (inverted-file) approximate top-k --------------------------------

NCENT = 32   # pinned oracle-scale centroid count (the SQL oracles hardcode it)
NPROBE = 2   # clusters probed per query

# Upper clamp for the adaptive centroid count: the centroid table is
# a driver-held broadcast/closure (NCENT x dim doubles), so it must
# stay a bounded control plane — 4096 x 64 doubles = 2 MB.
NCENT_MAX = 4096


def ivf_ncent(n: int) -> int:
    """Adaptive centroid count for a corpus of ``n`` vectors:
    ~sqrt(n), clamped to [NCENT, NCENT_MAX] — the standard IVF sizing
    rule (cluster size ~ sqrt(n) keeps the centroid scan AND the
    within-cluster work both O(sqrt(n)) per vector instead of one of
    them growing linearly). This is the deployment path the
    NCENT∝corpus prose note used to describe: operators that take
    ``ncent=None`` resolve it through this rule; the DECLARED oracle
    queries pin ``ncent=NCENT`` because the DuckDB oracle SQL
    hardcodes the same LIMIT (a non-constant LIMIT cannot be mirrored
    bit-exactly across both engines)."""
    import math

    return max(NCENT, min(math.isqrt(max(n, 0)), NCENT_MAX))


def _centroids(e: DataFrame, ncent: int = NCENT) -> DataFrame:
    """Deterministic ``ncent``-centroid sample.

    Rank the corpus by a 48-bit md5 of the vector id (a deterministic
    uniform shuffle both engines compute identically) and take the
    first ``ncent``. The centroid table is O(ncent) no matter the
    corpus size — selection is a TakeOrdered (per-partition top-k, no
    full sort), and the broadcast below stays constant-size at 100 TB.
    A production system would k-means-train these; a deterministic
    uniform sample is the standard init and keeps the oracle exact.
    """
    h = F.conv(F.substring(F.md5(F.col("cid").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    return (
        e.withColumn("__h", h)
        .orderBy(F.asc("__h"), F.asc("cid"))
        .limit(ncent)
        .select(F.col("cid").alias("ctr_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    )


def _assign_clusters(e: DataFrame, cent: DataFrame, ncent: int = NCENT) -> DataFrame:
    """(cid, v, nrm, cluster) — nearest centroid by cosine, as ONE
    Arrow-vectorized map-side pass: the O(NCENT) centroid table (a
    constant-size control-plane fetch, same bound as the broadcast it
    replaces) rides the UDF closure as a numpy matrix, and every batch
    scores all centroids with vectorized per-dimension accumulation.

    Zero shuffle (the previous broadcast-join + max_by formulation
    exchanged n rows) and zero interpreted higher-order functions
    (`aggregate`/`zip_with` do not whole-stage-codegen; at NCENT dots
    per vector their interpreter overhead dominated the Lloyd rounds
    ~6x). Determinism is preserved bitwise: the numpy loop accumulates
    dimension-by-dimension — ``acc += v[i]*c[i]`` — which is exactly
    the oracle's left fold ``((0 + t0) + t1) + ...`` per (vector,
    centroid) pair, and ``np.argmax`` takes the FIRST maximal index,
    matching the (csim DESC, ctr_id ASC) tie rule with centroids
    sorted by id."""
    state = {
        int(r["ctr_id"]): (list(r["cv"]), float(r["cn"]))
        for r in cent.limit(ncent).collect()
    }
    return _assign_by_rows(e, state)


def _assign_by_rows(
    e: DataFrame,
    state: dict,
    keep: "tuple[str, ...]" = ("cid", "v", "nrm"),
    emit_sim: bool = False,
) -> DataFrame:
    """Assignment pass against driver-held centroids ``{ctr_id: (cv,
    cn)}`` — the Arrow-vectorized kernel shared by the Lloyd loop and
    the search path. ``keep`` selects which input columns ride along
    with the computed ``cluster``: a caller that only needs e.g. the
    id and a label can carry them through the map-side pass instead of
    joining them back on the id afterwards (one exchange per side
    saved, and the vectors never outlive the pass). ``emit_sim``
    additionally emits ``csim`` — the cosine to the ASSIGNED centroid,
    which the kernel already holds at the argmax — so a caller that
    scores members against their own centroid (cluster_prototypes)
    skips both the broadcast re-join and a second per-row interpreted
    dot fold. Bitwise identical to the oracle's left fold: the
    accumulation is dimension-ordered and the division is one IEEE op
    against the (nrm * cn) product."""
    from pyspark.sql.functions import pandas_udf

    ordered = sorted(state.items())
    cmat = np.array([cv for _, (cv, _) in ordered], dtype=np.float64)
    cn = np.array([c for _, (_, c) in ordered], dtype=np.float64)
    ids = np.array([cid for cid, _ in ordered], dtype=np.int64)

    if emit_sim:

        @pandas_udf("struct<cluster:bigint,csim:double>")
        def _assign_sim(vs: pd.Series) -> pd.DataFrame:
            if len(vs) == 0:
                return pd.DataFrame({"cluster": pd.Series([], dtype="int64"),
                                     "csim": pd.Series([], dtype="float64")})
            vm = np.stack([np.asarray(x, dtype=np.float64) for x in vs.values])
            acc = np.zeros((vm.shape[0], cmat.shape[0]))
            nr = np.zeros(vm.shape[0])
            for i in range(vm.shape[1]):  # exact left-fold over dimensions
                acc += vm[:, i, None] * cmat[None, :, i]
                nr += vm[:, i] * vm[:, i]
            sims = acc / (np.sqrt(nr)[:, None] * cn[None, :])
            best = np.argmax(sims, axis=1)
            rows = np.arange(vm.shape[0])
            return pd.DataFrame(
                {"cluster": ids[best], "csim": sims[rows, best]}
            )

        out = e.select(*keep, _assign_sim(F.col("v")).alias("__a"))
        return out.select(
            *keep,
            F.col("__a.cluster").alias("cluster"),
            F.col("__a.csim").alias("csim"),
        )

    @pandas_udf("long")
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        vm = np.stack([np.asarray(x, dtype=np.float64) for x in vs.values])
        acc = np.zeros((vm.shape[0], cmat.shape[0]))
        nr = np.zeros(vm.shape[0])
        for i in range(vm.shape[1]):  # exact left-fold over dimensions
            acc += vm[:, i, None] * cmat[None, :, i]
            nr += vm[:, i] * vm[:, i]
        sims = acc / (np.sqrt(nr)[:, None] * cn[None, :])
        return pd.Series(ids[np.argmax(sims, axis=1)])

    return e.select(*keep, _assign(F.col("v")).alias("cluster"))


KMEANS_ITERS = 2  # Lloyd rounds for the trained-IVF variant
KMEANS_SAMPLE = 8192  # bounded training sample — corpus-independent


def kmeans_centroids(e: DataFrame, n_iter: int = KMEANS_ITERS) -> DataFrame:
    """Spherical k-means (Lloyd) refinement of the sampled centroids,
    trained on a BOUNDED deterministic sample (the FAISS discipline:
    IVF coarse quantizers train on ~256 vectors per centroid, not the
    corpus).

    The top-``KMEANS_SAMPLE`` vectors by the same md5 rank that picks
    the seed centroids are collected ONCE — an O(SAMPLE x dim) control
    plane, corpus-size independent — and every Lloyd round then runs
    driver-side: numpy assignment with the exact left-fold kernel of
    :func:`_assign_by_rows`, and component means as exact decimal sums
    (each component quantized to DECIMAL(30,10) half-up — byte-for-byte
    what both engines' ``SUM(CAST(x AS DECIMAL(30,10)))`` computes —
    summed as arbitrary-precision ints). Exact + commutative, so the
    trained centroids are bit-identical at ANY parallelism, and
    bit-identical to the oracle's unrolled SQL rounds.

    vs the previous distributed Lloyd loop: one bounded collect
    replaces (1 seed job + n_iter full-corpus assignment scans with
    posexplode shuffles). At 100 TB that is the difference between
    training cost O(sample) and n_iter more passes over the corpus;
    the corpus is only ever scanned for the FINAL assignment. Clusters
    that end up empty (or with a zero-norm mean, whose cosine is
    undefined) keep their previous centroid.
    """
    return _state_df(e.sparkSession, _lloyd_rounds(e, n_iter))


def _state_df(spark: SparkSession, state: dict) -> DataFrame:
    """Driver-held centroid state -> (ctr_id, cv, cn) DataFrame."""
    return spark.createDataFrame(
        [(cid, cv, cn) for cid, (cv, cn) in sorted(state.items())],
        "ctr_id long, cv array<double>, cn double",
    )


def _dec10(x: float) -> int:
    """``CAST(x AS DECIMAL(30,10))`` as a scaled int: both engines
    quantize the double's EXACT binary value to 10 fractional digits,
    round-half-up. ``Decimal(x)`` is that exact value; a shortest-repr
    construction (``Decimal(repr(x))``) disagrees by one ulp on
    full-precision doubles whose exact expansion and shortest repr
    straddle a rounding boundary (caught by
    tests/test_round8_random2.py's 300-double property check against
    both engines' casts)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(x).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP).scaleb(10)
    )


def _lloyd_rounds(e: DataFrame, n_iter: int) -> dict:
    from decimal import Decimal

    h = F.conv(F.substring(F.md5(F.col("cid").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    rows = (
        e.withColumn("__h", h)
        .orderBy(F.asc("__h"), F.asc("cid"))
        .limit(KMEANS_SAMPLE)
        .select("__h", "cid", "v", "nrm")
        .collect()  # bounded: <= KMEANS_SAMPLE x dim doubles
    )
    if not rows:  # empty corpus: no centroids, downstream stays empty
        return {}
    rows.sort(key=lambda r: (r["__h"], r["cid"]))
    # seed = the first NCENT of the SAME ordering == _centroids(e)
    state = {int(r["cid"]): (list(r["v"]), float(r["nrm"])) for r in rows[:NCENT]}
    vm = np.array([r["v"] for r in rows], dtype=np.float64)
    # exact decimal view of the sample, quantized once (values never
    # change across rounds); python ints, so sums cannot overflow
    qm = [[_dec10(x) for x in r["v"]] for r in rows]
    for _ in range(n_iter):
        ordered = sorted(state.items())
        cmat = np.array([cv for _, (cv, _) in ordered], dtype=np.float64)
        cn = np.array([c for _, (_, c) in ordered], dtype=np.float64)
        ids = [cid for cid, _ in ordered]
        acc = np.zeros((vm.shape[0], cmat.shape[0]))
        nr = np.zeros(vm.shape[0])
        for i in range(vm.shape[1]):  # exact left fold, as _assign_by_rows
            acc += vm[:, i, None] * cmat[None, :, i]
            nr += vm[:, i] * vm[:, i]
        sims = acc / (np.sqrt(nr)[:, None] * cn[None, :])
        assign = np.argmax(sims, axis=1)  # first max == (sim DESC, ctr_id ASC)
        for j, ctr_id in enumerate(ids):
            members = [qm[r] for r in np.flatnonzero(assign == j)]
            if not members:
                continue  # empty cluster keeps its previous centroid
            n = len(members)
            mv = [
                float(Decimal(sum(m[i] for m in members)).scaleb(-10)) / n
                for i in range(vm.shape[1])
            ]
            s = 0.0
            for x in mv:  # same left fold as _norm
                s = s + x * x
            mn = math.sqrt(s)
            if mn > 0:
                state[ctr_id] = (mv, mn)
    return state


def ann_ivf_topk(
    df: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: bool = False,
    base: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: assign each vector to its nearest centroid (a
    fixed-size deterministic sample; k-means-refined when ``train``),
    then answer queries by scanning only the ``NPROBE`` closest
    clusters.

    Scale path: the centroid table is O(NCENT) — corpus-independent —
    and broadcast, so both the assignment pass and the probe are
    map-side: the corpus is scanned once with no shuffle; only
    candidates from probed clusters reach the per-query ranking
    window. At 100 TB the cluster assignment would be precomputed/
    bucketed once and reused across queries. Approximate by design:
    recall vs ``ann_cosine_topk`` depends on NPROBE. Ties break on
    smaller centroid/neighbor id; folds are left-to-right so both
    engines agree bitwise.
    """
    # Materialize the quantized corpus projection ONCE: the seed
    # job, every Lloyd assignment round, and the final assignment
    # all rescan these blocks instead of re-reading parquet and
    # re-deriving norms per action (the trained variant's cold-start
    # cost was dominated by those repeated scans). A caller that
    # already holds the checkpointed projection (ann_recall_eval)
    # passes it as ``base``.
    e = (
        _vec_base(df, id_col, vec_col).localCheckpoint(eager=False)
        if base is None
        else base
    )
    if train:
        # centroid state is already driver-held after the bounded
        # sample training — feed the assignment kernel directly, no
        # round-trip through a DataFrame + re-collect
        state = _lloyd_rounds(e, KMEANS_ITERS)
        cent = _state_df(e.sparkSession, state)
        assigned = _assign_by_rows(e, state).localCheckpoint(eager=False)
    else:
        cent = _centroids(e)
        # Two consumers below (query-side filter + candidate side) — cut
        # the lineage so the Arrow assignment pass runs once, not twice.
        assigned = _assign_clusters(e, cent).localCheckpoint(eager=False)
    q = assigned.where(F.col("cid") < n_queries).select(
        F.col("cid").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    ).limit(n_queries)  # no-op cap; proves the broadcast bound to the auditor
    # probe: top-NPROBE centroids per query
    qsim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("ctr_id"))
    probes = (
        q.join(F.broadcast(cent.limit(NCENT)))
        .withColumn("qsim", qsim)
        .withColumn("prnk", F.row_number().over(w_probe))
        .where(F.col("prnk") <= NPROBE)
        .select("query_id", "qv", "qn", F.col("ctr_id").alias("cluster"))
    )
    cand = assigned.join(
        F.broadcast(probes), on="cluster"
    ).where(F.col("cid") != F.col("query_id"))
    # Arrow pairwise scoring on the data-sized candidate stream (r12,
    # guide §4.2); the O(queries x NCENT) probe fold above stays on the
    # interpreted path — it is control-plane-sized
    sim = _cos_sim_pair(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm"))
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", F.col("cid").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id")
    )


def _fold_dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), "
        f"(s, x) -> s + x)"
    )


_IVF_PREFIX_SQL = f"""
WITH e AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT cid, v,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm
  FROM e
), n2 AS (
  SELECT * FROM n WHERE nrm > 0
), cent0 AS (
  SELECT cid AS ctr_id, v AS cv, nrm AS cn FROM n2
  ORDER BY ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 12))::BIGINT ASC, cid ASC
  LIMIT {NCENT}
)"""


_TRAIN_SAMPLE_SQL = f"""
, train AS (
  SELECT * FROM n2
  ORDER BY ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 12))::BIGINT ASC, cid ASC
  LIMIT {KMEANS_SAMPLE}
)"""


def _kmeans_iter_sql(prev: str, out: str) -> str:
    """One unrolled Lloyd round over the bounded ``train`` sample:
    cosine assignment against ``prev``, exact-decimal component means,
    zero-norm/empty fallback — the SQL mirror of one
    ``kmeans_centroids`` iteration."""
    return f"""
, {out}_asg AS (
  SELECT cid, v, cluster FROM (
    SELECT n2.cid, n2.v, c.ctr_id AS cluster,
           row_number() OVER (
             PARTITION BY n2.cid
             ORDER BY {_fold_dot_sql('n2.v', 'c.cv')} / (n2.nrm * c.cn) DESC,
                      c.ctr_id ASC) AS rnk
    FROM train n2 CROSS JOIN {prev} c)
  WHERE rnk = 1
), {out}_mean AS (
  SELECT cluster AS ctr_id, list(m ORDER BY i) AS mv FROM (
    SELECT cluster, i,
           CAST(SUM(CAST(v[i] AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS m
    FROM {out}_asg, range(1, 65) r(i)
    GROUP BY cluster, i)
  GROUP BY cluster
), {out}_n AS (
  SELECT ctr_id, mv,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(mv, x -> x * x)), (s, x) -> s + x)) AS mn
  FROM {out}_mean
), {out} AS (
  SELECT p.ctr_id,
         CASE WHEN m.mn > 0 THEN m.mv ELSE p.cv END AS cv,
         CASE WHEN m.mn > 0 THEN m.mn ELSE p.cn END AS cn
  FROM {prev} p LEFT JOIN {out}_n m USING (ctr_id)
)"""


def _assigned_cte_sql(cent: str = "cent0") -> str:
    """The nearest-centroid assignment as a reusable ``assigned`` CTE
    (rides on ``_IVF_PREFIX_SQL``'s ``n2`` plus the ``cent`` centroid
    table) — the SQL mirror of ``_assign_clusters``, and the SINGLE
    definition of the assignment tie rule (csim DESC, ctr_id ASC)
    shared by the IVF search, IVF-PQ, the nprobe sweep and the
    cluster-balance profile."""
    return f"""
, assigned AS (
  SELECT cid, v, nrm, ctr_id AS cluster FROM (
    SELECT n2.cid, n2.v, n2.nrm, cent.ctr_id,
           row_number() OVER (
             PARTITION BY n2.cid
             ORDER BY {_fold_dot_sql('n2.v', 'cent.cv')} / (n2.nrm * cent.cn) DESC,
                      cent.ctr_id ASC) AS rnk
    FROM n2 CROSS JOIN {cent} cent)
  WHERE rnk = 1
)"""


def _ivf_search_sql(cent: str) -> str:
    return _assigned_cte_sql(cent) + f"""
, q AS (
  SELECT cid AS query_id, v AS qv, nrm AS qn FROM assigned WHERE cid < {N_QUERIES}
), probes AS (
  SELECT query_id, qv, qn, ctr_id AS cluster FROM (
    SELECT q.query_id, q.qv, q.qn, cent.ctr_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_fold_dot_sql('q.qv', 'cent.cv')} / (q.qn * cent.cn) DESC,
                      cent.ctr_id ASC) AS prnk
    FROM q CROSS JOIN {cent} cent)
  WHERE prnk <= {NPROBE}
), cand AS (
  SELECT p.query_id, a.cid AS neighbor_id,
         {_fold_dot_sql('p.qv', 'a.v')} / (p.qn * a.nrm) AS sim
  FROM assigned a JOIN probes p ON a.cluster = p.cluster
  WHERE a.cid <> p.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM cand)
WHERE rank <= {TOP_K}
"""


ANN_IVF_SQL = _IVF_PREFIX_SQL + _ivf_search_sql("cent0")

ANN_IVF_KMEANS_SQL = (
    _IVF_PREFIX_SQL
    + _TRAIN_SAMPLE_SQL
    + "".join(
        _kmeans_iter_sql(f"cent{t}", f"cent{t + 1}") for t in range(KMEANS_ITERS)
    )
    + _ivf_search_sql(f"cent{KMEANS_ITERS}")
)


def q_ann_cosine_topk(spark, sf_dir):
    return ann_cosine_topk(_emb(spark, sf_dir))


def q_ann_ivf_topk(spark, sf_dir):
    return ann_ivf_topk(_emb(spark, sf_dir))


def q_ann_ivf_kmeans_topk(spark, sf_dir):
    return ann_ivf_topk(_emb(spark, sf_dir), train=True)


def q_ann_lsh_buckets(spark, sf_dir):
    return lsh_buckets(_emb(spark, sf_dir))


# --- PQ (product quantization) approximate top-k ---------------------------

M_SUB = 8     # subspaces (64 dims -> 8 x 8)
SUB_D = 8     # dims per subspace
K_CODES = 16  # codewords per subspace: a code is 8 x 4 bits = 4 bytes
RERANK = 20   # approximate candidates per query that get exact rerank


def _l2sq(a, b):
    """Index-ordered squared-L2 fold — bitwise identical cross-engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def pq_codebook(e: DataFrame) -> DataFrame:
    """ONE-row codebook DataFrame: columns ``cb0..cb{M-1}``, each a
    ``K_CODES x SUB_D`` nested array — subspace ``m``'s codewords are
    the m-th subvectors of the first ``K_CODES`` corpus vectors in
    salted-hash order (deterministic uniform sample; same init rule as
    the IVF centroids). O(M*K*SUB_D) = 1024 doubles total, corpus-size
    independent — broadcastable forever.
    """
    h = F.conv(F.substring(F.md5(F.col("cid").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    samp = e.withColumn("__h", h).orderBy(F.asc("__h"), F.asc("cid")).limit(K_CODES)
    # j = 0..K-1 in sample order; the window runs over <= K_CODES rows
    pairs = samp.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("__h", "cid", "v"))).alias("ps")
    )
    def _sub_of(m: int):
        # single-arg closure (see _sub_l2sq_of for the arity trap)
        return lambda p: F.slice(p["v"], m * SUB_D + 1, SUB_D)

    return pairs.select(
        *[
            F.transform(F.col("ps"), _sub_of(m)).alias(f"cb{m}")
            for m in range(M_SUB)
        ]
    )


def _sub_l2sq_of(m: int):
    # single-arg closure: a 2-arg lambda would make F.transform pass
    # the array INDEX as the second argument
    return lambda cw: _l2sq(F.slice(F.col("v"), m * SUB_D + 1, SUB_D), cw)


def _pq_code(vcol, m: int):
    """argmin_j l2sq(subvec_m, cb{m}[j]) — first minimal j on ties
    (array_position finds the FIRST index holding the exact min)."""
    sub = F.slice(vcol, m * SUB_D + 1, SUB_D)
    dists = F.transform(F.col(f"cb{m}"), lambda cw: _l2sq(sub, cw))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("long")


def pq_encode_arrow(e: DataFrame, cb: DataFrame) -> DataFrame:
    """(cid[, cluster], cl) — corpus PQ encode as ONE Arrow-vectorized
    map pass, the same device as :func:`_assign_clusters`: the
    O(M*K*SUB_D) codebook (a bounded 1-row collect, same bound as the
    broadcast it replaces) rides the UDF closure as numpy matrices.

    The JVM formulation evaluates M*K interpreted higher-order l2sq
    folds per vector (128 at the default sizes) — the dominant cost of
    both PQ queries. Bitwise parity with :func:`_pq_code` is preserved
    (and pinned by ``tests/test_pq_encode.py``): the numpy loop
    accumulates ``(x-y)^2`` dimension-by-dimension — the HOF's exact
    left-fold order — and ``np.argmin`` takes the FIRST minimal code,
    matching ``array_position(dists, array_min(dists))``.
    """
    from pyspark.sql.functions import pandas_udf

    row = cb.limit(1).collect()[0]
    mats = [
        np.array([list(cw) for cw in row[f"cb{m}"]], dtype=np.float64)
        for m in range(M_SUB)
    ]  # each (K_CODES, SUB_D)

    @pandas_udf("array<long>")
    def _encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        vm = np.stack([np.asarray(x, dtype=np.float64) for x in vs.values])
        codes = np.empty((vm.shape[0], M_SUB), dtype=np.int64)
        for m in range(M_SUB):
            sub = vm[:, m * SUB_D : (m + 1) * SUB_D]  # (n, SUB_D)
            acc = np.zeros((vm.shape[0], mats[m].shape[0]))
            for d in range(SUB_D):  # exact left-fold over dimensions
                diff = sub[:, d, None] - mats[m][None, :, d]
                acc += diff * diff
            codes[:, m] = np.argmin(acc, axis=1)  # first minimal j
        return pd.Series(list(codes))

    keep = [c for c in e.columns if c in ("cid", "cluster")]
    return e.select(*keep, _encode(F.col("v")).alias("cl"))


def ann_pq_topk(
    df: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-compressed ANN with asymmetric distance + exact rerank
    (Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011).

    Scale story: each 64-double vector compresses to 8 nibble codes
    (128x smaller), so the approximate scan touches 4 bytes/vector
    instead of 512 — the difference between an in-memory and a
    disk-bound corpus at 100 TB. The pipeline: (1) build the
    O(M*K*SUB_D) codebook (corpus-size-independent, broadcast);
    (2) encode the corpus map-side; (3) per query, precompute the
    M x K distance table and score every code by an index-ordered
    table-lookup fold (ADC) — map-side against the broadcast query
    table; (4) per-query top-``RERANK`` by approximate distance
    (WindowGroupLimit bounds the shuffle to R rows per query per map
    partition); (5) exact squared-L2 rerank of the <= R survivors
    against the raw vectors, top-``k``. Every fold is index-ordered
    and every tie breaks on the smaller id, so both engines agree
    bitwise. Approximate by design: recall vs ``ann_cosine_topk``
    depends on M/K/RERANK.
    """
    e = (
        df.select(
            F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .withColumn("nrm", _norm(F.col("v")))
        .where(F.col("nrm") > 0)
        .drop("nrm")
    )
    cb = pq_codebook(e).limit(1)  # no-op cap: proves the broadcast bound
    coded = pq_encode_arrow(e, cb)
    # per-query M x K distance table, built on the broadcast codebook
    q = e.where(F.col("cid") < n_queries).limit(n_queries)
    qdt = (
        q.crossJoin(F.broadcast(cb))
        .select(
            F.col("cid").alias("query_id"),
            F.col("v").alias("qv"),
            F.array(
                *[
                    F.transform(F.col(f"cb{m}"), _sub_l2sq_of(m))
                    for m in range(M_SUB)
                ]
            ).alias("dt"),
        )
        .limit(n_queries)
    )
    # ADC: index-ordered fold of dt[m][code[m]] over the M subspaces
    adist = F.aggregate(
        F.sequence(F.lit(1), F.lit(M_SUB)),
        F.lit(0.0),
        lambda s, m: s
        + F.element_at(
            F.element_at(F.col("dt"), m.cast("int")),
            (F.element_at(F.col("cl"), m.cast("int")) + 1).cast("int"),
        ),
    )
    cand = (
        coded.join(F.broadcast(qdt), F.col("cid") != F.col("query_id"))
        .select("query_id", "qv", F.col("cid").alias("neighbor_id"), adist.alias("adist"))
    )
    w_pre = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    keep = (
        cand.withColumn("arnk", F.row_number().over(w_pre))
        .where(F.col("arnk") <= RERANK)
        .select("query_id", "qv", "neighbor_id")
    )
    # exact rerank of the <= RERANK survivors against raw vectors
    rer = keep.join(e, keep.neighbor_id == e.cid).select(
        "query_id", "neighbor_id", _l2sq(F.col("qv"), F.col("v")).alias("ex")
    )
    w_fin = Window.partitionBy("query_id").orderBy(F.asc("ex"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w_fin))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id")
    )


def q_ann_pq_topk(spark, sf_dir):
    return ann_pq_topk(_emb(spark, sf_dir))


def ann_ivfpq_topk(
    df: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite: coarse IVF routing + PQ-compressed in-cluster
    scan + exact rerank — the production 100 TB ANN layout (the
    "IVFADC" system of Jegou, Douze, Schmid, TPAMI 2011 §V).

    Why the composite matters at scale: IVF alone still reads full
    vectors for every row of the probed clusters (~NPROBE/NCENT of the
    corpus x 512 bytes); PQ alone scans ALL compressed codes. Routing
    first and THEN scanning compressed codes touches ~NPROBE/NCENT of
    the corpus x 4 bytes — both reductions compose multiplicatively.

    Plan: (1) the O(NCENT) centroid sample routes every vector in one
    Arrow-vectorized map pass (zero shuffle, :func:`_assign_clusters`);
    (2) the O(M*K*SUB_D) codebook broadcast-encodes the corpus
    map-side; (3) each query probes its ``NPROBE`` best clusters and
    ADC-scans only their codes (broadcast probe + distance tables,
    map-side); (4) per-query top-``RERANK`` by approximate distance,
    then exact squared-L2 rerank against raw vectors, top-``k``.
    Every fold is index-ordered and ties break on the smaller id, so
    both engines agree bitwise; recall vs ``ann_cosine_topk`` depends
    on NPROBE x M/K/RERANK.
    """
    # barrier: the projection feeds the centroid sample, the
    # assignment pass, the codebook build AND the exact rerank join —
    # without it each consumer re-ran the scan + norm fold (r12)
    e = _vec_base(df, id_col, vec_col).localCheckpoint(eager=False)
    cent = _centroids(e)
    assigned = _assign_clusters(e, cent)
    cb = pq_codebook(e.drop("nrm")).limit(1)
    coded = pq_encode_arrow(assigned, cb)
    q = assigned.where(F.col("cid") < n_queries).select(
        F.col("cid").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    ).limit(n_queries)
    # probe: top-NPROBE clusters per query by centroid cosine
    qsim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("ctr_id"))
    probes = (
        q.join(F.broadcast(cent.limit(NCENT)))
        .withColumn("qsim", qsim)
        .withColumn("prnk", F.row_number().over(w_probe))
        .where(F.col("prnk") <= NPROBE)
        .select("query_id", F.col("ctr_id").alias("cluster"))
    )
    # per-query M x K distance tables on the broadcast codebook
    qdt = (
        q.crossJoin(F.broadcast(cb))
        .select(
            F.col("query_id"),
            F.col("qv"),
            F.array(
                *[
                    F.transform(
                        F.col(f"cb{m}"),
                        (lambda mm: lambda cw: _l2sq(
                            F.slice(F.col("qv"), mm * SUB_D + 1, SUB_D), cw
                        ))(m),
                    )
                    for m in range(M_SUB)
                ]
            ).alias("dt"),
        )
        .limit(n_queries)
    )
    adist = F.aggregate(
        F.sequence(F.lit(1), F.lit(M_SUB)),
        F.lit(0.0),
        lambda s, m: s
        + F.element_at(
            F.element_at(F.col("dt"), m.cast("int")),
            (F.element_at(F.col("cl"), m.cast("int")) + 1).cast("int"),
        ),
    )
    cand = (
        coded.join(F.broadcast(probes), "cluster")
        .join(F.broadcast(qdt), "query_id")
        .where(F.col("cid") != F.col("query_id"))
        .select("query_id", "qv", F.col("cid").alias("neighbor_id"), adist.alias("adist"))
    )
    w_pre = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    keep = (
        cand.withColumn("arnk", F.row_number().over(w_pre))
        .where(F.col("arnk") <= RERANK)
        .select("query_id", "qv", "neighbor_id")
    )
    rer = keep.join(e, keep.neighbor_id == e.cid).select(
        "query_id", "neighbor_id", _l2sq(F.col("qv"), F.col("v")).alias("ex")
    )
    w_fin = Window.partitionBy("query_id").orderBy(F.asc("ex"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w_fin))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id")
    )


def q_ann_ivfpq_topk(spark, sf_dir):
    return ann_ivfpq_topk(_emb(spark, sf_dir))


def _sql_l2sq_slice(a: str, b: str, am: str, bm: str) -> str:
    """Squared L2 between subspace ``am``/``bm`` slices of ``a``/``b``
    (0-based subspace expressions), index-ordered fold."""
    ai = f"{a}[{am} * {SUB_D} + i]"
    bi = f"{b}[{bm} * {SUB_D} + i]"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {SUB_D + 1}), "
        f"i -> ({ai} - {bi}) * ({ai} - {bi}))), (s, x) -> s + x)"
    )


def _sql_l2sq_full(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (s, x) -> s + x)"
    )


ANN_IVFPQ_SQL = f"""
WITH e AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT cid, v,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm
  FROM e
), n2 AS (
  SELECT * FROM n WHERE nrm > 0
), cent0 AS (
  SELECT cid AS ctr_id, v AS cv, nrm AS cn FROM n2
  ORDER BY ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 12))::BIGINT ASC, cid ASC
  LIMIT {NCENT}
)""" + _assigned_cte_sql("cent0") + f"""
, q AS (
  SELECT cid AS query_id, v AS qv, nrm AS qn FROM assigned WHERE cid < {N_QUERIES}
), probes AS (
  SELECT query_id, ctr_id AS cluster FROM (
    SELECT q.query_id, cent0.ctr_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_fold_dot_sql('q.qv', 'cent0.cv')} / (q.qn * cent0.cn) DESC,
                      cent0.ctr_id ASC) AS prnk
    FROM q CROSS JOIN cent0)
  WHERE prnk <= {NPROBE}
), cb AS (
  SELECT row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 12))::BIGINT ASC,
                    cid ASC) - 1 AS j, v
  FROM n2
  ORDER BY ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 12))::BIGINT ASC, cid ASC
  LIMIT {K_CODES}
), codes AS (
  SELECT cid, list(code ORDER BY m) AS cl FROM (
    SELECT cid, m, j AS code,
           row_number() OVER (PARTITION BY cid, m ORDER BY d ASC, j ASC) AS rnk
    FROM (
      SELECT n2.cid, r.m, cb.j,
             {_sql_l2sq_slice('n2.v', 'cb.v', 'r.m', 'r.m')} AS d
      FROM n2 CROSS JOIN range(0, {M_SUB}) r(m) CROSS JOIN cb))
  WHERE rnk = 1 GROUP BY cid
), qdm AS (
  SELECT query_id, m, list(d ORDER BY j) AS dr FROM (
    SELECT q.query_id, r.m, cb.j,
           {_sql_l2sq_slice('q.qv', 'cb.v', 'r.m', 'r.m')} AS d
    FROM q CROSS JOIN range(0, {M_SUB}) r(m) CROSS JOIN cb)
  GROUP BY query_id, m
), qdt AS (
  SELECT query_id, list(dr ORDER BY m) AS dt FROM qdm GROUP BY query_id
), cand AS (
  SELECT p.query_id, c.cid AS neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, {M_SUB + 1}),
                            m -> t.dt[m][c.cl[m] + 1])),
           (s, x) -> s + x) AS adist
  FROM codes c
  JOIN assigned a ON c.cid = a.cid
  JOIN probes p ON a.cluster = p.cluster
  JOIN qdt t ON t.query_id = p.query_id
  WHERE c.cid <> p.query_id
), keep AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS arnk
    FROM cand)
  WHERE arnk <= {RERANK}
), rer AS (
  SELECT k.query_id, k.neighbor_id,
         {_sql_l2sq_full('q.qv', 'n2.v')} AS ex
  FROM keep k
  JOIN q ON q.query_id = k.query_id
  JOIN n2 ON n2.cid = k.neighbor_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY ex ASC, neighbor_id ASC) AS rank
  FROM rer)
WHERE rank <= {TOP_K}
"""

ANN_PQ_SQL = f"""
WITH e AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT cid, v,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm
  FROM e
), n2 AS (
  SELECT cid, v FROM n WHERE nrm > 0
), cb AS (
  SELECT row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 12))::BIGINT ASC,
                    cid ASC) - 1 AS j, v
  FROM n2
  ORDER BY ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 12))::BIGINT ASC, cid ASC
  LIMIT {K_CODES}
), codes AS (
  SELECT cid, list(code ORDER BY m) AS cl FROM (
    SELECT cid, m, j AS code,
           row_number() OVER (PARTITION BY cid, m ORDER BY d ASC, j ASC) AS rnk
    FROM (
      SELECT n2.cid, r.m, cb.j,
             {_sql_l2sq_slice('n2.v', 'cb.v', 'r.m', 'r.m')} AS d
      FROM n2 CROSS JOIN range(0, {M_SUB}) r(m) CROSS JOIN cb))
  WHERE rnk = 1 GROUP BY cid
), q AS (
  SELECT cid AS query_id, v AS qv FROM n2 WHERE cid < {N_QUERIES}
), qdm AS (
  SELECT query_id, m, list(d ORDER BY j) AS dr FROM (
    SELECT q.query_id, r.m, cb.j,
           {_sql_l2sq_slice('q.qv', 'cb.v', 'r.m', 'r.m')} AS d
    FROM q CROSS JOIN range(0, {M_SUB}) r(m) CROSS JOIN cb)
  GROUP BY query_id, m
), qdt AS (
  SELECT query_id, list(dr ORDER BY m) AS dt FROM qdm GROUP BY query_id
), cand AS (
  SELECT t.query_id, c.cid AS neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, {M_SUB + 1}),
                            m -> t.dt[m][c.cl[m] + 1])),
           (s, x) -> s + x) AS adist
  FROM codes c CROSS JOIN qdt t
  WHERE c.cid <> t.query_id
), keep AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS arnk
    FROM cand)
  WHERE arnk <= {RERANK}
), rer AS (
  SELECT k.query_id, k.neighbor_id,
         {_sql_l2sq_full('q.qv', 'n2.v')} AS ex
  FROM keep k
  JOIN q ON q.query_id = k.query_id
  JOIN n2 ON n2.cid = k.neighbor_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY ex ASC, neighbor_id ASC) AS rank
  FROM rer)
WHERE rank <= {TOP_K}
"""
