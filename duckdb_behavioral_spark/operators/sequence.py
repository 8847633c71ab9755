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

- **window** (``sequence_match`` on adjacent patterns, wildcard
  patterns and wildcard chains whose links carry upper time bounds —
  the scale path, no per-group arrays):
  *adjacent* patterns (``(?1)(?2)…``) become ``lead(..., j) IGNORE
  NULLS`` probes over a condition bitmask that is NULL for events
  matching no condition — IGNORE NULLS skips exactly the events the
  reference drops from the stream, so adjacency is evaluated on the
  filtered subsequence without materializing it.
  *wildcard chains* (``(?1).*(?2)…``, optionally ``.*(?t<=N)(?j)``)
  become one chain of running maxes of timestamps over one sorted
  window: ``x_j`` is the row's time when condition j matches and the
  running max of ``x_{j-1}`` over strictly earlier rows (a
  ``(-∞,-1)`` ROWS frame: one advance per event) exists and, on a
  bounded link, is within the bound. An upper bound is monotone in the
  predecessor's time, so the latest predecessor decides reachability.
- **hof** (``sequence_count`` on adjacent and wildcard patterns): an
  ``aggregate`` fold over the group's ``sort_array(collect_list(...))``
  — the non-overlapping reset is inherently sequential.
- **kernel** (everything else: lower time bounds, ``.``, and the
  reference for the tests): the exact Python NFA port
  (kernels/pattern.py) via the grouped mapInPandas engine.

``sequence_match_events`` runs wildcard chains as chained per-group
MIN windows (``window``) and other shapes on the collecting NFA kernel.

Every stage is one SQL string (``duckdb_behavioral_spark.sqltext``):
conditions and ``ts`` given as Columns are aliased once and named in
the text, and each window function is its own column, so it is
evaluated once.

Invalid patterns raise ``PatternError`` at plan time by default
(Spark-idiomatic: the pattern is a query-time constant, so failing
fast beats a silent all-NULL result). ``on_invalid='null'`` opts into
the reference's exact behavior instead — one row per group with a
NULL result (src/ffi/sequence.rs:104-141 sets the validity bitmap on
pattern errors).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_behavioral_spark.kernels import pattern as P
from duckdb_behavioral_spark import sqltext
from duckdb_behavioral_spark.operators.grouped import (
    condition_bitmask,
    grouped_scan,
    masked_payload,
)


def _null_result(df, group_by, out, dtype):
    """One row per group with a NULL result — the reference's behavior
    for groups evaluated under an invalid pattern
    (src/ffi/sequence.rs:108-111)."""
    return df.groupBy(*group_by).agg(
        F.expr(f"max(CAST(NULL AS {dtype})) AS {sqltext.name(out)}"))


_STRATEGIES = {
    "sequence_match": ("window", "kernel"),
    "sequence_count": ("hof", "kernel"),
    "sequence_match_events": ("window", "kernel"),
}


def _parse(fn, pattern_str, conds, strategy, on_invalid):
    """The parsed steps; None for an invalid pattern under
    ``on_invalid='null'``. ``strategy`` is None (picked from the pattern
    shape) or one of ``_STRATEGIES[fn]``; tests set it to compare the
    paths."""
    if strategy is not None and strategy not in _STRATEGIES[fn]:
        raise ValueError(
            f"{fn} strategy must be one of {_STRATEGIES[fn]}, got {strategy!r}")
    if on_invalid not in ("raise", "null"):
        raise ValueError(f"on_invalid must be 'raise' or 'null', got {on_invalid!r}")
    if not 2 <= len(conds) <= 32:
        raise ValueError(f"sequence functions take 2..32 conditions, got {len(conds)}")
    try:
        steps = P.parse_pattern(pattern_str)
        hi = P.max_condition_index(steps)
        if hi >= len(conds):
            # a pattern-content problem (like a parse error), not API misuse
            raise P.PatternError(
                f"pattern references condition {hi + 1} but only {len(conds)} "
                "conditions given", 0)
        return steps
    except P.PatternError:
        if on_invalid == "raise":
            raise
        return None


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
    group_by = list(group_by)
    steps = _parse("sequence_count" if count_all else "sequence_match",
                   pattern_str, conds, strategy, on_invalid)
    if steps is None:
        return _null_result(df, group_by, out, "bigint" if count_all else "boolean")
    shape, cidx = P.classify(steps)
    bounds = [None] * (len(cidx) - 1) if shape == P.SHAPE_WILDCARD else None
    if shape == P.SHAPE_COMPLEX and not count_all:
        # upper-bounded wildcard chains: existence runs JVM-only
        cidx, bounds = P.classify_timed(steps) or (None, None)
    jvm = "hof" if count_all else "window"
    if strategy is None:
        strategy = "kernel" if cidx is None else jvm
    if strategy == jvm and cidx is None:
        raise ValueError(
            f"strategy {strategy!r} requires an adjacent or wildcard pattern"
            + ("" if count_all else " (links may carry upper time bounds)"))

    df, (t, *conds) = sqltext.inputs(df, [sqltext.column(ts), *conds])
    if strategy == "kernel":
        return _kernel_path(df, steps, t, conds, group_by, count_all, out)
    if count_all:
        return _count_fold(df, t, conds, group_by, shape, cidx, out)
    if shape == P.SHAPE_ADJACENT:
        return _match_adjacent(df, t, conds, group_by, cidx, out)
    return _match_chain(df, t, conds, group_by, cidx, bounds, out)


# ---------------------------------------------------------------------------
# JVM window paths. ``t`` and ``conds`` are SQL text over ``df``
# (sqltext.inputs).
# ---------------------------------------------------------------------------

def _any_row(df, keys, ok, out):
    """Per group: does any row satisfy ``ok`` (SQL text over ``df``)?"""
    return df.groupBy(*keys).agg(
        F.expr(f"coalesce(bool_or({ok}), false) AS {sqltext.name(out)}"))


def _match_adjacent(df, t, conds, keys, cidx, out):
    # The mask is NULL on events matching no condition (and on NULL-ts
    # rows); IGNORE-NULLS leads then step over exactly the filtered
    # subsequence.
    cur = df.selectExpr(
        *[sqltext.name(g) for g in keys],
        f"{sqltext.event_micros(t)} AS __t",
        f"CASE WHEN {t} IS NOT NULL THEN nullif({condition_bitmask(conds)}, 0) END AS __m",
    )
    order = f"{sqltext.partition_by(keys)}ORDER BY __t"
    ok = " AND ".join(
        [f"(__m & {1 << cidx[0]}) != 0"]
        + [f"(lead(__m, {j}) IGNORE NULLS OVER ({order}) & {1 << c}) != 0"
           for j, c in enumerate(cidx) if j]
    )
    return _any_row(cur.selectExpr(*[sqltext.name(g) for g in keys], f"{ok} AS __ok"),
                    keys, "__ok", out)


def _match_chain(df, t, conds, keys, cidx, bounds, out):
    """Existence of a wildcard chain ``(?c0).*(?c1)…``; ``bounds[j-1]``
    is the largest allowed µs gap into step j, None where the link is
    unbounded (``P.classify_timed``).

    ``x_j`` is this row's µs time when condition ``cidx[j]`` matches and
    the running max ``__p{j}`` of ``x_{j-1}`` over strictly earlier rows
    exists (and is within the link's bound). Each running max is its
    own column, so its window is evaluated once even when the bound
    tests it."""
    tsu = sqltext.event_micros(t)
    cur = df.selectExpr(
        *[sqltext.name(g) for g in keys],
        f"{tsu} AS __t",
        *[f"coalesce({conds[i]}, false) AS __c{i}" for i in sorted(set(cidx[1:]))],
        f"CASE WHEN {conds[cidx[0]]} THEN {tsu} END AS __x0",
    )
    order = (f"{sqltext.partition_by(keys)}ORDER BY __t "
             "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
    x = "__x0"
    for j in range(1, len(cidx)):
        cur = cur.selectExpr("*", f"max({x}) OVER ({order}) AS __p{j}")
        link = (f"__p{j} IS NOT NULL" if bounds[j - 1] is None
                else f"__p{j} >= __t - {bounds[j - 1]}")
        x = f"CASE WHEN __c{cidx[j]} AND {link} THEN __t END"
    return _any_row(cur, keys, f"{x} IS NOT NULL", out)


def _events_window(df, t, conds, keys, cidx, out):
    """First-match step timestamps for wildcard chains: m_0 = earliest
    c_0 event; m_j = earliest c_j event strictly after m_{j-1}. All
    chained full-partition MIN windows (no orderBy, no sort).

    "After" is by *event*, not by timestamp: the NFA advances by row
    index, so two events at the same microsecond (common after ns->us
    truncation) can both participate in a match. Each event therefore
    carries a unique ordinal (``monotonically_increasing_id``) and the
    chain compares ``struct(t, ordinal)`` lexicographically — equal
    timestamps chain through the ordinal, matching the kernel's
    tie-order-arbitrary row advance. m_j is NULL when m_{j-1} is, so
    the match is complete when the last one is set."""
    cur = df.selectExpr(
        *[sqltext.name(g) for g in keys],
        f"struct({sqltext.event_micros(t)} AS t, monotonically_increasing_id() AS i) AS __k",
        *[f"coalesce({conds[i]}, false) AND {t} IS NOT NULL AS __c{i}"
          for i in sorted(set(cidx))],
    )
    over = f"OVER ({sqltext.partition_by(keys).rstrip()})"
    for j, c in enumerate(cidx):
        after = f" AND __k > __m{j - 1}" if j else ""
        cur = cur.selectExpr("*", f"min(CASE WHEN __c{c}{after} THEN __k END) {over} AS __m{j}")
    k = len(cidx)
    steps = ", ".join(f"timestamp_micros(min(__m{j}).t)" for j in range(k))
    return cur.groupBy(*keys).agg(F.expr(
        f"CASE WHEN min(__m{k - 1}) IS NULL THEN CAST(array() AS ARRAY<TIMESTAMP>) "
        f"ELSE array({steps}) END AS {sqltext.name(out)}"))


# ---------------------------------------------------------------------------
# Aggregate-HOF count
# ---------------------------------------------------------------------------

def _count_fold(df, t, conds, keys, shape, cidx, out):
    """Fold over each group's sorted array ``__e`` of struct(t, b), where
    ``b`` holds the event's condition flags; events matching no
    condition (and NULL-ts rows) are NULLed, not filtered, so every
    group stays present in the output even when its array is empty."""
    flags = f"array({', '.join(f'coalesce({c}, false)' for c in conds)})"
    ev = df.selectExpr(
        *[sqltext.name(g) for g in keys],
        f"CASE WHEN {t} IS NOT NULL AND array_contains({flags}, true) "
        f"THEN struct({sqltext.event_micros(t)} AS t, {flags} AS b) END AS e",
    )
    arr = ev.groupBy(*keys).agg(F.expr("sort_array(collect_list(e)) AS __e"))
    k = len(cidx)
    if shape == P.SHAPE_ADJACENT:
        # Non-overlapping left-to-right: on a match at i, resume at i+k
        # (reference: src/pattern/executor.rs:126-166).
        hit = " AND ".join(f"coalesce(get(__e, i + {j}).b[{c}], false)"
                           for j, c in enumerate(cidx))
        count = (
            f"CASE WHEN size(__e) >= {k} THEN aggregate(sequence(0, size(__e) - {k}), "
            f"named_struct('next', 0, 'cnt', 0L), (acc, i) -> IF(i >= acc.next AND {hit}, "
            f"named_struct('next', i + {k}, 'cnt', acc.cnt + 1), acc), acc -> acc.cnt) "
            f"ELSE 0 END"
        )
    else:
        # n counts the steps advanced: step n % k is awaited next, and
        # n DIV k chains have completed (the state resets after each).
        want = f"array({', '.join(map(str, cidx))})"
        count = (
            f"aggregate(__e, 0L, (n, e) -> n + IF(coalesce(get(e.b, "
            f"get({want}, CAST(n % {k} AS INT))), false), 1, 0), n -> n DIV {k})"
        )
    return arr.selectExpr(*[sqltext.name(g) for g in keys],
                          f"CAST({count} AS BIGINT) AS {sqltext.name(out)}")


# ---------------------------------------------------------------------------
# Python NFA path
# ---------------------------------------------------------------------------

def _kernel_path(df, steps, t, conds, group_by, count_all, out):
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
    # matching the JVM strategies (see _count_fold).
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
    group_by = list(group_by)
    steps = _parse("sequence_match_events", pattern_str, conds, strategy, on_invalid)
    if steps is None:
        return _null_result(df, group_by, out, "array<timestamp>")
    shape, cidx = P.classify(steps)
    if strategy is None:
        strategy = "window" if shape == P.SHAPE_WILDCARD else "kernel"
    if strategy == "window" and shape != P.SHAPE_WILDCARD:
        raise ValueError("window strategy requires a wildcard pattern")

    df, (t, *conds) = sqltext.inputs(df, [sqltext.column(ts), *conds])
    if strategy == "window":
        return _events_window(df, t, conds, group_by, cidx, out)

    def kernel(arrs):
        m = arrs["m"]
        nz = m != 0
        res = P.execute_pattern_events(steps, arrs["t"][nz], m[nz])
        return ([] if res is None else [int(x) for x in res],)

    # NULL-ts rows are masked to 0 (dropped inside the kernel) rather
    # than filtered, so all-NULL groups still emit an empty array.
    got = grouped_scan(
        df,
        group_by,
        masked_payload(t, conds),
        "t",
        kernel,
        [T.StructField("__us", T.ArrayType(T.LongType(), False), False)],
    )
    # µs → timestamp conversion stays JVM-side.
    return got.selectExpr(
        *[sqltext.name(g) for g in group_by],
        f"transform(__us, x -> timestamp_micros(x)) AS {sqltext.name(out)}")
