"""Grouped event-scan execution engine.

Runs a per-group Python kernel over a DataFrame at scale:

1. project only the needed columns in one SQL-text ``selectExpr``
   (column pruning reaches the scan; see the sqltext module),
2. hash-repartition by the group keys (one shuffle; AQE may coalesce),
3. ``sortWithinPartitions(keys…, order)`` so each group is a contiguous,
   time-sorted run inside its partition (Spark's external sort spills,
   so a partition never has to fit in memory),
4. ``mapInPandas`` streams Arrow batches through Python, segmenting
   groups with vectorized boundary detection and carrying the tail
   (possibly batch-spanning) group between batches.

Compared with ``applyInPandas`` this avoids a per-group pandas
DataFrame construction (important when there are millions of small
groups) while keeping memory bounded by the largest single *group*,
not the largest partition — the same bound the reference has for its
per-group event vectors. Skew guard for the 100 TB posture: a single
pathological key still concentrates on one task; cap its events with
``max_events_per_group`` if that is a risk.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_behavioral_spark import sqltext


def condition_bitmask(conds: Sequence[str | Column]) -> str | Column:
    """Pack boolean conditions into one BIGINT bitmask (bit i =
    condition i). SQL-text conditions give SQL text (one parse on the
    JVM); if any condition is a Column the mask is a Column, with the
    text conditions parsed by ``F.expr``.

    NULL conditions count as false (reference treats NULL conditions as
    false: src/ffi/retention.rs:84-87). Packing 32 bools into one long
    shrinks the shuffled payload ~8x vs a boolean struct (the
    reference's u32 bitmask optimization, src/common/event.rs:10-41).
    """
    if not conds:
        raise ValueError("at least one condition required")
    if len(conds) > 32:
        raise ValueError(f"at most 32 conditions supported, got {len(conds)}")
    if all(isinstance(c, str) for c in conds):
        bits = " | ".join(f"CASE WHEN {c} THEN {1 << i} ELSE 0 END" for i, c in enumerate(conds))
        return f"CAST({bits} AS BIGINT)"
    mask = None
    for i, c in enumerate(conds):
        c = F.expr(c) if isinstance(c, str) else c
        bit = F.when(F.coalesce(c, F.lit(False)), F.lit(1 << i)).otherwise(F.lit(0))
        mask = bit if mask is None else mask.bitwiseOR(bit)
    return mask.cast("long")


def masked_payload(ts: str, conds: Sequence[str]) -> dict[str, str]:
    """The ``t``/``m`` payload of the pattern and funnel kernels, as SQL
    text over a ts column and SQL-text conditions. A NULL-ts row gets
    mask 0 and t 0 instead of being filtered: the kernels skip mask-0
    rows, and the row keeps its group present in the output."""
    return {
        "t": f"coalesce({sqltext.event_micros(ts)}, 0)",
        "m": f"CASE WHEN {ts} IS NOT NULL THEN {condition_bitmask(conds)} ELSE 0 END",
    }


def grouped_scan(
    df: DataFrame,
    keys: Sequence[str],
    payload: dict[str, str | Column],
    order: str,
    kernel: Callable[[dict], tuple],
    result_fields: Sequence[T.StructField],
    max_events_per_group: int | None = None,
) -> DataFrame:
    """Apply ``kernel`` once per group; returns keys + result columns.

    ``payload`` maps payload column name → SQL text or Column (one
    ``selectExpr``; Columns are aliased first, see ``sqltext.inputs``);
    ``order`` names the payload column to sort by (ascending, nulls
    first) within each group. ``kernel`` receives a dict of numpy/object
    arrays (one entry per payload column, group-sliced, sorted) and
    returns one tuple matching ``result_fields``.

    ``max_events_per_group`` is the skew guard for pathological keys at
    scale: when set, only the first N events (in ``order``) of each
    group reach the kernel, and the cross-batch carry buffer is
    truncated to N rows — bounding both kernel cost and Python-side
    memory for hot keys without any extra shuffle. Truncation changes
    results for capped groups; it is an explicit opt-in.
    """
    keys = list(keys)
    key_fields = [df.schema[k] for k in keys]
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, f.nullable) for f in key_fields]
        + list(result_fields)
    )
    df, exprs = sqltext.inputs(df, list(payload.values()))
    proj = df.selectExpr(*[sqltext.name(k) for k in keys],
                         *[f"{e} AS {sqltext.name(n)}" for n, e in zip(payload, exprs)])
    # F.expr, not names: PySpark turns each name into an F.col node
    key_cols = [F.expr(sqltext.name(k)) for k in keys]
    srt = proj.repartition(*key_cols).sortWithinPartitions(*key_cols, F.expr(sqltext.name(order)))

    payload_names = list(payload.keys())
    result_names = [f.name for f in result_fields]
    out_cols = keys + result_names

    cap = max_events_per_group

    def run(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            kdf = pdf[keys]
            starts = (kdf != kdf.shift()).any(axis=1).to_numpy().nonzero()[0]
            # Hold back the final group — it may continue in the next batch.
            # All carry rows share one key, so truncating to `cap` keeps
            # boundary detection intact while bounding memory.
            last_start = starts[-1]
            carry = pdf.iloc[last_start:]
            if cap is not None and len(carry) > cap:
                carry = carry.iloc[:cap]
            if last_start == 0:
                continue
            head = pdf.iloc[:last_start]
            yield _process(head, starts[:-1], keys, payload_names, result_names,
                           out_cols, kernel, cap)
        if carry is not None and len(carry):
            kdf = carry[keys]
            starts = (kdf != kdf.shift()).any(axis=1).to_numpy().nonzero()[0]
            yield _process(carry, starts, keys, payload_names, result_names,
                           out_cols, kernel, cap)

    return srt.mapInPandas(run, schema=out_schema)


def _process(pdf, starts, keys, payload_names, result_names, out_cols, kernel, cap=None):
    n = len(pdf)
    bounds = list(starts) + [n]
    cols = {name: pdf[name].to_numpy() for name in payload_names}
    key_rows = []
    results = []
    key_arrays = [pdf[k].to_numpy() for k in keys]
    for gi in range(len(bounds) - 1):
        lo, hi = bounds[gi], bounds[gi + 1]
        if cap is not None and hi - lo > cap:
            hi = lo + cap
        sliced = {name: arr[lo:hi] for name, arr in cols.items()}
        results.append(kernel(sliced))
        key_rows.append(tuple(arr[lo] for arr in key_arrays))
    out = {}
    for ki, k in enumerate(keys):
        out[k] = [kr[ki] for kr in key_rows]
    for ri, rname in enumerate(result_names):
        out[rname] = [res[ri] for res in results]
    return pd.DataFrame(out, columns=out_cols)
