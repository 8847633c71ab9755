"""window_funnel — longest condition chain within a time window.

Reference semantics: greedy forward scan from every entry event; every
matched step must be within ``window`` of the entry (inclusive); one
event may advance multiple consecutive steps in default mode; max step
across entries wins. Modes add constraints (reference:
src/window_funnel.rs:49-434).

Two physical strategies, picked from the mode:

1. **Window path (default mode, and strict_increase — the scale
   path):** the funnel dynamic program evaluated as *chained
   running-max window expressions* over one sort: ``dp[s]`` holds the
   latest entry timestamp of any chain reaching step ``s+1`` (a later
   entry strictly dominates an earlier one — every future event within
   the earlier entry's window is also within the later one's). ``dp0``
   is a running max of entry timestamps; ``dp[s]`` is a running max of
   ``dp[s-1]-if-qualified``. Step 1 reads ``dp0`` over frame
   ``(-∞, -1)`` (the entry event is never rescanned for step 1);
   steps ≥2 read frame ``(-∞, 0)`` (same-event multi-step advance).
   One shuffle, one sort, k native window passes, **no per-group
   arrays** — group size is unbounded, unlike any collect-based plan.
   Each step is one SQL-text projection that computes its running max
   into a column (``__m{s}``) and tests it afterwards: Catalyst does
   not merge equal window functions, so testing and returning the
   same ``max(...) OVER`` inline would evaluate it twice per row.
   strict_increase (with or without strict_once) swaps every frame for
   ``RANGE (-∞, -1)``: each step needs a strictly earlier timestamp.

2. **Kernel path (the other modes, and the ``max_events_per_group``
   skew guard):** exact Python port of the reference scan
   (kernels/funnel.py) over the grouped mapInPandas engine.

The two are proven equivalent on randomized overlapping-condition
inputs (tests/test_randomized_cross_check.py) and the DP itself is
hypothesis-tested against the kernel (tests/test_property_kernels.py).

Both paths keep events matching no condition as inert rows (they can
never participate — reference: src/window_funnel.rs:249-255), so such
a group still gets step 0, and prune columns before the shuffle.

Both paths build their stages as SQL strings
(``duckdb_behavioral_spark.sqltext``); conditions given as Columns are
aliased once and named in the text.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_behavioral_spark.intervals import to_micros
from duckdb_behavioral_spark.kernels.funnel import (
    MODE_STRICT_INCREASE,
    MODE_STRICT_ONCE,
    funnel_max_step,
    parse_modes,
)
from duckdb_behavioral_spark import sqltext
from duckdb_behavioral_spark.operators.grouped import grouped_scan, masked_payload

# strict_increase forces strictly-later timestamps per step, which a
# RANGE (-inf, -1) frame expresses exactly; it also subsumes
# strict_once (a chain of strictly increasing timestamps cannot reuse
# an event). Both mode sets run JVM-only.
_STRICT_SETS = (MODE_STRICT_INCREASE, MODE_STRICT_INCREASE | MODE_STRICT_ONCE)
_STRATEGIES = ("window", "window_strict", "kernel")


def window_funnel(
    df: DataFrame,
    window,
    ts: str,
    conds: Sequence,
    group_by: Sequence[str],
    mode: str = "",
    out: str = "step",
    strategy: str | None = None,
    max_events_per_group: int | None = None,
) -> DataFrame:
    """Per-group max funnel step; returns ``group_by`` + ``out`` (int).

    ``strategy`` is None (picked from ``mode``) or one of 'window'
    (default mode), 'window_strict' (strict_increase) and 'kernel'
    (any mode); tests set it to compare the paths.
    ``max_events_per_group`` is the opt-in skew guard: only the first N
    events (by timestamp) per group are scanned. Only the kernel path
    has it, so setting it picks the kernel.
    """
    k = len(conds)
    if not 2 <= k <= 32:
        raise ValueError(f"window_funnel takes 2..32 conditions, got {k}")
    window_us = to_micros(window)
    mode_bits = parse_modes(mode)

    if strategy is None:
        if max_events_per_group is not None:
            strategy = "kernel"
        elif mode_bits == 0:
            strategy = "window"
        elif mode_bits in _STRICT_SETS:
            strategy = "window_strict"
        else:
            strategy = "kernel"
    if strategy not in _STRATEGIES:
        raise ValueError(
            f"window_funnel strategy must be one of {_STRATEGIES}, got {strategy!r}")
    if strategy == "window" and mode_bits != 0:
        raise ValueError("window strategy supports default mode only")
    if strategy == "window_strict" and mode_bits not in _STRICT_SETS:
        raise ValueError(
            "window_strict strategy requires mode strict_increase "
            "(optionally with strict_once)"
        )
    if strategy != "kernel" and max_events_per_group is not None:
        raise ValueError("max_events_per_group needs the kernel strategy")

    df, (t, *conds) = sqltext.inputs(df, [sqltext.column(ts), *conds])
    if strategy == "kernel":
        return _funnel_kernel(df, window_us, t, conds, list(group_by), k, mode_bits,
                              out, max_events_per_group)
    return _funnel_window(df, window_us, t, conds, list(group_by), k, out,
                          strict_increase=strategy == "window_strict")


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


def _funnel_kernel(df, window_us, t, conds, group_by, k, mode_bits, out, cap=None):
    # All-false events can never match a step or trigger a break, so
    # they are semantically inert for the funnel scan — but keeping them
    # preserves group presence (step 0) for groups with no qualifying
    # events. The kernel skips them implicitly (no condition bit set).
    # NULL-ts rows are masked to 0 (inert) rather than filtered so a
    # group whose rows all have NULL timestamps still surfaces (step 0),
    # matching the window strategies.
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
