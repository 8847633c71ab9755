"""retention — cohort retention flags as a pure aggregate.

Reference semantics (reference: src/retention.rs:27-107): over all rows
of a group, ``r[0]`` is true iff the anchor condition (cond 0) was ever
true; ``r[i]`` is true iff *both* the anchor and condition *i* were
ever true (on any rows, not necessarily the same row or in order);
anchor never true ⇒ all entries false. NULL conditions count as false
(src/ffi/retention.rs:84-87).

In Spark this is ``bool_or`` per condition plus an array constructor —
O(1) aggregation state per group, map-side partial aggregation, no
event materialization at all. This is the ideal 100 TB shape: the
shuffle carries one boolean per condition per group.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_cols(conds: Sequence) -> list[Column]:
    return [F.expr(c) if isinstance(c, str) else c for c in conds]


def retention_col(conds: Sequence) -> Column:
    """Aggregate Column (``array<boolean>``) for use inside ``agg``."""
    cols = _as_cols(conds)
    if not 2 <= len(cols) <= 32:
        raise ValueError(f"retention takes 2..32 conditions, got {len(cols)}")
    flags = [F.bool_or(F.coalesce(c, F.lit(False))) for c in cols]
    anchor = flags[0]
    # empty input → [], not [NULL, …] (reference test/sql/retention.test:58-62)
    return F.when(F.count(F.lit(1)) == 0, F.array().cast("array<boolean>")).otherwise(
        F.array(anchor, *[anchor & f for f in flags[1:]]))


def retention(
    df: DataFrame,
    conds: Sequence,
    group_by: Sequence[str],
    out: str = "r",
) -> DataFrame:
    """Group by ``group_by`` and compute the retention flag array."""
    return df.groupBy(*group_by).agg(retention_col(conds).alias(out))
