"""window_funnel — longest condition chain within a time window.

Reference semantics: greedy forward scan from every entry event; every
matched step must be within ``window`` of the entry (inclusive); one
event may advance multiple consecutive steps in default mode; max step
across entries wins. Modes add constraints (reference:
src/window_funnel.rs:49-434).

Three physical strategies, picked automatically:

1. **Window path (default mode — the scale path, and the default):**
   the funnel dynamic program evaluated as *chained running-max window
   expressions* over one sort: ``dp[s]`` holds the latest entry
   timestamp of any chain reaching step ``s+1`` (a later entry strictly
   dominates an earlier one — every future event within the earlier
   entry's window is also within the later one's). ``dp0`` is a running
   max of entry timestamps; ``dp[s]`` is a running max of
   ``dp[s-1]-if-qualified``. Step 1 reads ``dp0`` over frame
   ``(-∞, -1)`` (the entry event is never rescanned for step 1);
   steps ≥2 read frame ``(-∞, 0)`` (same-event multi-step advance).
   One shuffle, one sort, k native window passes, **no per-group
   arrays** — group size is unbounded, unlike any collect-based plan.
   Each step is one SQL-text projection that computes its running max
   into a column (``__m{s}``) and tests it afterwards: Catalyst does
   not merge equal window functions, so testing and returning the
   same ``max(...) OVER`` inline would evaluate it twice per row.

2. **Aggregate-HOF path:** the same DP folded over
   ``sort_array(collect_list(...))`` with the SQL ``aggregate``
   higher-order function. Retained for composability (a single
   aggregate expression) and as an independent implementation for
   cross-checking; bounded by per-group array size.

3. **Kernel path (modes, any width):** exact Python port of the
   reference scan (kernels/funnel.py) over the grouped mapInPandas
   engine.

All three are proven equivalent on randomized overlapping-condition
inputs (tests/test_randomized_cross_check.py) and the DP itself is
hypothesis-tested against the kernel (tests/test_property_kernels.py).

Both paths pre-filter events matching no condition (they can never
participate — reference: src/window_funnel.rs:249-255) and pack/prune
columns before the shuffle.

The window and kernel paths build their stages as SQL strings
(``duckdb_behavioral_spark.sqltext``); conditions given as Columns are
aliased once and named in the text. The HOF path keeps its Column lambdas.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_behavioral_spark.functions.timeutil import event_time
from duckdb_behavioral_spark.intervals import to_micros
from duckdb_behavioral_spark.kernels.funnel import funnel_max_step, parse_modes
from duckdb_behavioral_spark import sqltext
from duckdb_behavioral_spark.operators.grouped import grouped_scan, masked_payload

_SENTINEL = -(2**62)
_HOF_MAX_CONDS = 8


def _as_cols(conds: Sequence) -> list[Column]:
    return [F.expr(c) if isinstance(c, str) else c for c in conds]


def window_funnel(
    df: DataFrame,
    window,
    ts: str,
    conds: Sequence,
    group_by: Sequence[str],
    mode: str = "",
    out: str = "step",
    use_kernel: bool | None = None,
    strategy: str | None = None,
    max_events_per_group: int | None = None,
) -> DataFrame:
    """Per-group max funnel step; returns ``group_by`` + ``out`` (int).

    ``strategy``: None (auto) | 'window' | 'hof' | 'kernel'.
    ``use_kernel`` is the legacy boolean form of the same choice.
    ``max_events_per_group`` is the opt-in skew guard: only the first N
    events (by timestamp) per group are scanned ('hof'/'kernel' only).
    """
    k = len(conds)
    if not 2 <= k <= 32:
        raise ValueError(f"window_funnel takes 2..32 conditions, got {k}")
    window_us = to_micros(window)
    mode_bits = parse_modes(mode)

    from duckdb_behavioral_spark.kernels.funnel import (
        MODE_STRICT_INCREASE,
        MODE_STRICT_ONCE,
    )

    # strict_increase forces strictly-later timestamps per step, which a
    # RANGE (-inf, -1) frame expresses exactly; it also subsumes
    # strict_once (a chain of strictly increasing timestamps cannot
    # reuse an event). Both mode sets run JVM-only.
    _STRICT_SETS = (MODE_STRICT_INCREASE, MODE_STRICT_INCREASE | MODE_STRICT_ONCE)

    if strategy is None:
        if use_kernel is True:
            strategy = "kernel"
        elif use_kernel is False:
            strategy = "hof"
        elif mode_bits == 0 and max_events_per_group is None:
            strategy = "window"
        elif mode_bits in _STRICT_SETS and max_events_per_group is None:
            strategy = "window_strict"
        else:
            strategy = "kernel"
    if strategy in ("window", "hof") and mode_bits != 0:
        raise ValueError(f"strategy {strategy!r} supports default mode only")
    if strategy == "window_strict" and mode_bits not in _STRICT_SETS:
        raise ValueError(
            "window_strict strategy requires mode strict_increase "
            "(optionally with strict_once)"
        )

    if strategy == "hof":
        if k > _HOF_MAX_CONDS:
            raise ValueError(f"hof strategy supports at most {_HOF_MAX_CONDS} conditions")
        return _funnel_hof(df, window_us, ts, _as_cols(conds), list(group_by), k, out,
                           max_events_per_group)
    df, (t, *conds) = sqltext.inputs(df, [sqltext.column(ts), *conds])
    if strategy in ("window", "window_strict"):
        return _funnel_window(df, window_us, t, conds, list(group_by), k, out,
                              strict_increase=strategy == "window_strict")
    return _funnel_kernel(df, window_us, t, conds, list(group_by), k, mode_bits, out,
                          max_events_per_group)


def _funnel_window(df, window_us, t, conds, group_by, k, out, strict_increase=False):
    """``t`` and ``conds`` are SQL text over ``df`` (sqltext.inputs)."""
    tsu = sqltext.event_micros(t)
    cur = df.selectExpr(
        *[sqltext.name(g) for g in group_by],
        f"{tsu} AS __t",
        *[f"coalesce({c}, false) AS __c{s}" for s, c in enumerate(conds) if s],
        # dp0 contribution: this row as an entry point. Last: with the
        # long after the flags the shuffled rows compress ~10 % better.
        f"CASE WHEN {conds[0]} THEN {tsu} END AS __x0",
    )
    order = f"{sqltext.partition_by(group_by)}ORDER BY __t"
    # x[s]: this row's chain entry time when it reaches step s+1, else
    # NULL; m[s] is the running max of x[s-1] it chains from. Each m[s]
    # is its own column, so its window is evaluated once and then tested.
    x = ["__x0"]
    for s in range(1, k):
        if strict_increase:
            # strict_increase: every step needs a strictly EARLIER-TS
            # predecessor — a RANGE frame excludes same-ts rows even
            # under tie ordering (a ROWS frame would not)
            frame = "RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        elif s == 1:
            # step 1 chains from a strictly earlier entry: frame (-∞,-1)
            frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        else:
            # steps ≥2 may chain through this same event: frame (-∞,0)
            frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        cur = cur.selectExpr("*", f"max({x[s - 1]}) OVER ({order} {frame}) AS __m{s}")
        x.append(f"CASE WHEN __c{s} AND __m{s} >= __t - {window_us} THEN __m{s} END")
    step = " ".join(f"WHEN bool_or({x[s]} IS NOT NULL) THEN {s + 1}"
                    for s in range(k - 1, -1, -1))
    return cur.groupBy(*group_by).agg(
        F.expr(f"CAST(CASE {step} ELSE 0 END AS INT) AS {sqltext.name(out)}"))


def _funnel_hof(df, window_us, ts, cols, group_by, k, out, cap=None):
    ts_col = event_time(ts)
    bools = F.array(*[F.coalesce(c, F.lit(False)) for c in cols])
    keep = ts_col.isNotNull() & F.exists(bools, lambda b: b)
    # NULL-out non-qualifying events instead of filtering rows:
    # collect_list drops NULLs, so groups with zero qualifying events
    # still surface with step 0 (matching GROUP BY semantics).
    ev = df.select(
        *group_by,
        F.when(keep, F.struct(F.unix_micros(ts_col).alias("t"), bools.alias("b"))).alias("e"),
    )
    arr = F.sort_array(F.collect_list("e"))
    if cap is not None:
        arr = F.slice(arr, 1, cap)

    init = F.struct(*[F.lit(_SENTINEL).cast("long").alias(f"d{s}") for s in range(k)])

    def merge(acc, e):
        t = e["t"]
        new = []
        for s in range(k):
            cur = acc[f"d{s}"]
            has = F.coalesce(e["b"][s], F.lit(False))
            if s == 0:
                upd = F.when(has, F.greatest(cur, t)).otherwise(cur)
            else:
                # Step 1 chains from the PRE-event d0 (the entry event
                # is never rescanned for step 1 — reference scan starts
                # at start+1, src/window_funnel.rs:351-355); steps ≥2
                # chain through this event's updated previous level
                # (default-mode multi-step advance).
                prev = acc["d0"] if s == 1 else new[s - 1]
                upd = F.when(
                    has & (prev >= t - F.lit(window_us)), F.greatest(cur, prev)
                ).otherwise(cur)
            new.append(upd)
        return F.struct(*[c.alias(f"d{s}") for s, c in enumerate(new)])

    def finish(acc):
        step = F.when(acc[f"d{k-1}"] != F.lit(_SENTINEL), k)
        for s in range(k - 2, -1, -1):
            step = step.when(acc[f"d{s}"] != F.lit(_SENTINEL), s + 1)
        return step.otherwise(0).cast("int")

    result = F.aggregate(arr, init, merge, finish)
    return ev.groupBy(*group_by).agg(result.alias(out))


def _funnel_kernel(df, window_us, t, conds, group_by, k, mode_bits, out, cap=None):
    # All-false events can never match a step or trigger a break, so
    # they are semantically inert for the funnel scan — but keeping them
    # preserves group presence (step 0) for groups with no qualifying
    # events. The kernel skips them implicitly (no condition bit set).
    # NULL-ts rows are masked to 0 (inert) rather than filtered so a
    # group whose rows all have NULL timestamps still surfaces (step 0),
    # matching the window/hof strategies.
    def kernel(arrs):
        return (funnel_max_step(arrs["t"], arrs["m"], window_us, k, mode_bits),)

    return grouped_scan(
        df,
        group_by,
        masked_payload(t, conds),
        "t",
        kernel,
        [T.StructField(out, T.IntegerType(), False)],
        max_events_per_group=cap,
    )
