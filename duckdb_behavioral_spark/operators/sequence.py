"""sequence_match / sequence_count / sequence_match_events.

Reference semantics: the pattern mini-language is matched against the
group's time-sorted event stream with events matching *no* condition
dropped first (reference: src/sequence.rs:72-76); ``sequence_match``
reports any match, ``sequence_count`` counts non-overlapping matches
left-to-right, ``sequence_match_events`` returns the matched ``(?N)``
step timestamps of the first match (empty array when none —
reference: src/ffi/sequence_match_events.rs:131-141).

Physical strategies, picked from the function and the pattern shape as
the reference's own fast-path classification does (reference:
src/pattern/executor.rs:60-124):

- **window** (``sequence_match`` on adjacent and wildcard patterns —
  the scale path, no per-group arrays):
  *wildcard-separated* patterns (``(?1).*(?2)…``) become chained
  reachability flags: ``x_j = cond_j AND any-earlier-row-has(x_{j-1})``
  evaluated as running boolean maxes over one sorted window (a strict
  ``(-∞,-1)`` frame encodes "one advance per event").
  *adjacent* patterns (``(?1)(?2)…``) become ``lead(..., j) IGNORE
  NULLS`` probes over a struct that is NULL for events matching no
  condition — IGNORE NULLS skips exactly the events the reference
  drops from the stream, so adjacency is evaluated on the filtered
  subsequence without materializing it.
- **window_timed** (``sequence_match`` on wildcard chains whose links
  carry upper time bounds): the same chain as running maxes of
  timestamps.
- **hof** (``sequence_count`` on adjacent and wildcard patterns): an
  ``aggregate`` fold over ``sort_array(collect_list(...))`` — the
  non-overlapping reset is inherently sequential.
- **kernel** (everything else: lower time bounds, ``.``, and the
  reference for the tests): the exact Python NFA port
  (kernels/pattern.py) via the grouped mapInPandas engine.

``sequence_match_events`` runs wildcard chains as chained per-group
MIN windows (``window``) and other shapes on the collecting NFA kernel.

Invalid patterns raise ``PatternError`` at plan time by default
(Spark-idiomatic: the pattern is a query-time constant, so failing
fast beats a silent all-NULL result). ``on_invalid='null'`` opts into
the reference's exact behavior instead — one row per group with a
NULL result (src/ffi/sequence.rs:104-141 sets the validity bitmap on
pattern errors).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_behavioral_spark.functions.timeutil import event_time
from duckdb_behavioral_spark.kernels import pattern as P
from duckdb_behavioral_spark import sqltext
from duckdb_behavioral_spark.operators.grouped import grouped_scan, masked_payload


def _as_cols(conds: Sequence) -> list[Column]:
    return [F.expr(c) if isinstance(c, str) else c for c in conds]


def _check(pattern_str: str, conds):
    cols = _as_cols(conds)
    if not 2 <= len(cols) <= 32:
        raise ValueError(f"sequence functions take 2..32 conditions, got {len(cols)}")
    steps = P.parse_pattern(pattern_str)
    hi = P.max_condition_index(steps)
    if hi >= len(cols):
        # a pattern-content problem (like a parse error), not API misuse
        raise P.PatternError(
            f"pattern references condition {hi + 1} but only {len(cols)} conditions given",
            0,
        )
    return steps, cols


def _null_result(df, group_by, out, dtype):
    """One row per group with a NULL result — the reference's behavior
    for groups evaluated under an invalid pattern
    (src/ffi/sequence.rs:108-111)."""
    return df.groupBy(*list(group_by)).agg(
        F.max(F.lit(None).cast(dtype)).alias(out)
    )


_STRATEGIES = {
    "sequence_match": ("window", "window_timed", "kernel"),
    "sequence_count": ("hof", "kernel"),
    "sequence_match_events": ("window", "kernel"),
}


def _check_strategy(fn, strategy):
    """``strategy`` is None (picked from the pattern shape) or one of
    ``_STRATEGIES[fn]``; tests set it to compare the paths."""
    if strategy is not None and strategy not in _STRATEGIES[fn]:
        raise ValueError(
            f"{fn} strategy must be one of {_STRATEGIES[fn]}, got {strategy!r}")


def sequence_match(df, pattern_str, ts, conds, group_by, out="matched",
                   strategy=None, on_invalid="raise"):
    return _sequence(df, pattern_str, ts, conds, group_by, out, count_all=False,
                     strategy=strategy, on_invalid=on_invalid)


def sequence_count(df, pattern_str, ts, conds, group_by, out="c",
                   strategy=None, on_invalid="raise"):
    return _sequence(df, pattern_str, ts, conds, group_by, out, count_all=True,
                     strategy=strategy, on_invalid=on_invalid)


def _sequence(df, pattern_str, ts, conds, group_by, out, count_all, strategy=None,
              on_invalid="raise"):
    _check_strategy("sequence_count" if count_all else "sequence_match", strategy)
    if on_invalid not in ("raise", "null"):
        raise ValueError(f"on_invalid must be 'raise' or 'null', got {on_invalid!r}")
    try:
        steps, cols = _check(pattern_str, conds)
    except P.PatternError:
        if on_invalid == "raise":
            raise
        return _null_result(df, group_by, out, "bigint" if count_all else "boolean")
    group_by = list(group_by)
    shape, cidx = P.classify(steps)
    timed = P.classify_timed(steps) if shape == P.SHAPE_COMPLEX else None
    if strategy is None:
        if shape != P.SHAPE_COMPLEX:
            strategy = "hof" if count_all else "window"
        elif timed and not count_all:
            # upper-bounded wildcard chains: existence runs JVM-only
            strategy = "window_timed"
        else:
            strategy = "kernel"
    if strategy in ("window", "hof") and shape == P.SHAPE_COMPLEX:
        raise ValueError(f"strategy {strategy!r} requires an adjacent/wildcard pattern")
    if strategy == "window_timed":
        if timed is None:
            raise ValueError(
                "window_timed strategy supports wildcard chains with upper-bound "
                "time constraints only"
            )
        return _match_window_timed(df, ts, cols, group_by, timed, out)
    if strategy == "window":
        return _match_window(df, ts, cols, group_by, shape, cidx, out)
    if strategy == "hof":
        return _hof_count(df, ts, cols, group_by, shape, cidx, out)
    return _kernel_path(df, steps, ts, conds, group_by, count_all, out)


def _match_window(df, ts, cols, group_by, shape, cidx, out):
    ts_col = event_time(ts)
    k = len(cidx)
    bools = [F.coalesce(c, F.lit(False)) & ts_col.isNotNull() for c in cols]
    w = Window.partitionBy(*group_by).orderBy(ts_col.asc())
    if shape == P.SHAPE_ADJACENT:
        # NULL-out events matching no condition; IGNORE-NULLS leads then
        # step over exactly the filtered subsequence.
        qual = None
        for b in bools:
            qual = b if qual is None else (qual | b)
        base = df.select(
            *group_by, ts_col.alias(ts),
            F.when(qual, F.struct(*[b.alias(f"c{i}") for i, b in enumerate(bools)]))
            .alias("__qc"),
        )
        ok = F.col("__qc").isNotNull() & F.col("__qc")[f"c{cidx[0]}"]
        for j in range(1, k):
            nxt = F.expr(f"lead(__qc, {j}) IGNORE NULLS").over(w)
            ok = ok & F.coalesce(nxt[f"c{cidx[j]}"], F.lit(False))
        flagged = base.withColumn("__ok", ok)
    else:
        # wildcard: chained reachability with a strict (-∞,-1) frame —
        # each step's event must be strictly after the previous step's.
        w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
        cur = df.select(*group_by, ts_col.alias(ts),
                        *[b.alias(f"__b{i}") for i, b in enumerate(bools)])
        x = F.col(f"__b{cidx[0]}")
        cur = cur.withColumn("__x0", x)
        for j in range(1, k):
            reach_prev = F.coalesce(F.max(f"__x{j-1}").over(w_prev), F.lit(False))
            cur = cur.withColumn(f"__x{j}", F.col(f"__b{cidx[j]}") & reach_prev)
        flagged = cur.withColumn("__ok", F.col(f"__x{k-1}"))
    return flagged.groupBy(*group_by).agg(
        F.coalesce(F.bool_or("__ok"), F.lit(False)).alias(out)
    )


def _events_window(ev, ts, cols, group_by, cidx, out):
    """First-match step timestamps for wildcard chains: m_0 = earliest
    c_0 event; m_j = earliest c_j event strictly after m_{j-1}. All
    chained full-partition MIN windows (no orderBy, no sort).

    "After" is by *event*, not by timestamp: the NFA advances by row
    index, so two events at the same microsecond (common after ns->us
    truncation) can both participate in a match. Each event therefore
    carries a unique ordinal (``monotonically_increasing_id``) and the
    chain compares ``struct(t, ordinal)`` lexicographically — equal
    timestamps chain through the ordinal, matching the kernel's
    tie-order-arbitrary row advance."""
    ts_col = event_time(ts)
    w = Window.partitionBy(*group_by)
    bools = [F.coalesce(c, F.lit(False)) & ts_col.isNotNull() for c in cols]
    cur = ev.select(
        *group_by, F.unix_micros(ts_col).alias("__tu"),
        F.monotonically_increasing_id().alias("__mid"),
        *[b.alias(f"__b{i}") for i, b in enumerate(bools)],
    )
    key = F.struct(F.col("__tu").alias("t"), F.col("__mid").alias("i"))
    for j, ci in enumerate(cidx):
        cond = F.col(f"__b{ci}")
        if j > 0:
            cond = cond & (key > F.col(f"__m{j-1}"))
        cur = cur.withColumn(f"__m{j}", F.min(F.when(cond, key)).over(w))
    k = len(cidx)
    agg = cur.groupBy(*group_by).agg(
        *[F.min(f"__m{j}").alias(f"__m{j}") for j in range(k)]
    )
    complete = F.col("__m0").isNotNull()
    for j in range(1, k):
        complete = complete & F.col(f"__m{j}").isNotNull()
    arr = F.when(
        complete,
        F.array(*[F.timestamp_micros(F.col(f"__m{j}")["t"]) for j in range(k)]),
    ).otherwise(F.array().cast("array<timestamp>"))
    return agg.select(*group_by, arr.alias(out))


def _match_window_timed(df, ts, cols, group_by, timed, out):
    """Existence of a wildcard chain with per-link upper time bounds,
    as chained running-max windows carrying timestamps.

    ``x_j`` = this row's µs timestamp when condition j matches AND the
    running max of ``x_{j-1}`` over strictly-earlier rows satisfies the
    link bound (``prev >= cur - bound``). Upper-bounded links are
    monotone in the predecessor timestamp, so the running max is a
    complete reachability summary — one shuffle, no arrays, no Python.
    """
    cidx, bounds = timed
    ts_col = event_time(ts)
    bools = [F.coalesce(c, F.lit(False)) & ts_col.isNotNull() for c in cols]
    w_prev = (
        Window.partitionBy(*group_by)
        .orderBy(ts_col.asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cur = df.select(
        *group_by, ts_col.alias(ts), F.unix_micros(ts_col).alias("__tu"),
        *[b.alias(f"__b{i}") for i, b in enumerate(bools)],
    )
    cur = cur.withColumn("__x0", F.when(F.col(f"__b{cidx[0]}"), F.col("__tu")))
    for j in range(1, len(cidx)):
        # the running max is its own column, so its window is evaluated
        # once even when the link bound tests it a second time
        cur = cur.withColumn(f"__p{j}", F.max(f"__x{j-1}").over(w_prev))
        prev = F.col(f"__p{j}")
        ok = F.col(f"__b{cidx[j]}") & prev.isNotNull()
        if bounds[j - 1] is not None:
            ok = ok & (prev >= F.col("__tu") - F.lit(bounds[j - 1]))
        cur = cur.withColumn(f"__x{j}", F.when(ok, F.col("__tu")))
    flagged = cur.withColumn("__ok", F.col(f"__x{len(cidx)-1}").isNotNull())
    return flagged.groupBy(*group_by).agg(
        F.coalesce(F.bool_or("__ok"), F.lit(False)).alias(out)
    )


# ---------------------------------------------------------------------------
# Aggregate-HOF count
# ---------------------------------------------------------------------------

def _event_array(df, ts, cols, group_by):
    """Per-group sorted array of struct(t, b) with all-false events dropped.

    NULLing non-qualifying rows (instead of filtering) keeps every
    group present in the output even when its array is empty.
    """
    ts_col = event_time(ts)
    bools = F.array(*[F.coalesce(c, F.lit(False)) for c in cols])
    keep = ts_col.isNotNull() & F.exists(bools, lambda b: b)
    ev = df.select(
        *group_by,
        F.when(keep, F.struct(F.unix_micros(ts_col).alias("t"), bools.alias("b"))).alias("e"),
    )
    return ev, F.sort_array(F.collect_list("e"))


def _hof_count(df, ts, cols, group_by, shape, cidx, out):
    ev, arr = _event_array(df, ts, cols, group_by)
    count = _adjacent_count if shape == P.SHAPE_ADJACENT else _wildcard_count
    return ev.groupBy(*group_by).agg(count(arr, cidx, len(cidx)).cast("long").alias(out))


def _adjacent_count(arr, cidx, k):
    # Non-overlapping left-to-right: on a match at i, skip to i+k
    # (reference: src/pattern/executor.rs:126-166).
    n = F.size(arr)
    init = F.struct(F.lit(0).cast("int").alias("next"), F.lit(0).cast("long").alias("cnt"))

    def merge(acc, iv):
        i = iv
        cond = i >= acc["next"]
        for j, c in enumerate(cidx):
            cond = cond & F.coalesce(F.get(arr, i + j)["b"][c], F.lit(False))
        return F.struct(
            F.when(cond, i + k).otherwise(acc["next"]).alias("next"),
            F.when(cond, acc["cnt"] + 1).otherwise(acc["cnt"]).alias("cnt"),
        )

    idxs = F.transform(arr, lambda x, i: i)
    counted = F.aggregate(
        F.filter(idxs, lambda i: i <= n - k), init, merge, lambda acc: acc["cnt"]
    )
    return F.when(n >= k, counted).otherwise(F.lit(0))


def _wildcard_count(arr, cidx, k):
    conds_lit = F.array(*[F.lit(c) for c in cidx])
    init = F.struct(F.lit(0).cast("int").alias("step"), F.lit(0).cast("long").alias("cnt"))

    def merge(acc, e):
        has = F.coalesce(F.get(e["b"], F.get(conds_lit, acc["step"])), F.lit(False))
        ns = F.when(has, acc["step"] + 1).otherwise(acc["step"])
        return F.struct(
            F.when(ns >= k, 0).otherwise(ns).alias("step"),
            F.when(ns >= k, acc["cnt"] + 1).otherwise(acc["cnt"]).alias("cnt"),
        )

    return F.aggregate(arr, init, merge, lambda acc: acc["cnt"])


# ---------------------------------------------------------------------------
# Python NFA path
# ---------------------------------------------------------------------------

def _kernel_path(df, steps, ts, conds, group_by, count_all, out):
    def kernel(arrs):
        m = arrs["m"]
        nz = m != 0
        res = P.execute_pattern(steps, arrs["t"][nz], m[nz], count_all)
        return (res,) if count_all else (bool(res),)

    field = (
        T.StructField(out, T.LongType(), False)
        if count_all
        else T.StructField(out, T.BooleanType(), False)
    )
    # NULL-ts rows are masked to 0 rather than filtered: a group whose
    # rows all have NULL timestamps must still appear in the output,
    # matching the JVM strategies (see _event_array docstring).
    df, (t, *conds) = sqltext.inputs(df, [sqltext.column(ts), *conds])
    return grouped_scan(df, group_by, masked_payload(t, conds), "t", kernel, [field])


def sequence_match_events(df, pattern_str, ts, conds, group_by, out="m_ts",
                          strategy=None, on_invalid="raise"):
    """Matched ``(?N)`` step timestamps of the first match; ``[]`` if none.

    Wildcard chains take a JVM-only path (``strategy`` 'window'): the
    lazy NFA's first match is greedy-earliest per step (the earliest
    feasible anchor never hurts when links are unbounded), which chained
    per-group MIN windows express with one shuffle and no arrays. Other
    shapes run the collecting NFA kernel ('kernel').
    """
    _check_strategy("sequence_match_events", strategy)
    if on_invalid not in ("raise", "null"):
        raise ValueError(f"on_invalid must be 'raise' or 'null', got {on_invalid!r}")
    try:
        steps, cols = _check(pattern_str, conds)
    except P.PatternError:
        if on_invalid == "raise":
            raise
        return _null_result(df, group_by, out, "array<timestamp>")
    group_by = list(group_by)

    shape, cidx = P.classify(steps)
    if strategy is None:
        strategy = "window" if shape == P.SHAPE_WILDCARD else "kernel"
    if strategy == "window":
        if shape != P.SHAPE_WILDCARD:
            raise ValueError("window strategy requires a wildcard pattern")
        return _events_window(df, ts, cols, group_by, cidx, out)

    def kernel(arrs):
        m = arrs["m"]
        nz = m != 0
        res = P.execute_pattern_events(steps, arrs["t"][nz], m[nz])
        return ([] if res is None else [int(x) for x in res],)

    # NULL-ts rows are masked to 0 (dropped inside the kernel) rather
    # than filtered, so all-NULL groups still emit an empty array.
    ev, (t, *conds) = sqltext.inputs(df, [sqltext.column(ts), *conds])
    got = grouped_scan(
        ev,
        group_by,
        masked_payload(t, conds),
        "t",
        kernel,
        [T.StructField("__us", T.ArrayType(T.LongType(), False), False)],
    )
    # µs → timestamp conversion stays JVM-side.
    return got.select(
        *group_by, F.transform("__us", lambda x: F.timestamp_micros(x)).alias(out)
    )
