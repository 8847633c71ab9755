"""SQL-text building blocks for the operators' projections and the
loader's casts.

Under PySpark 4 every Column node (``F.col``, ``F.when``, ``.alias``,
Column arithmetic) is a py4j round trip or several, while a
``selectExpr``/``F.expr`` string is parsed on the JVM in one. The
behavioral operators therefore build each stage as one SQL string. A
condition or value given as SQL text is spliced in as is; one given as
a Column is added to the DataFrame under an alias first
(:func:`inputs`), and the text names the alias.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame


def name(column: str) -> str:
    """SQL text naming the top-level column ``column``."""
    return "`" + column.replace("`", "``") + "`"


def names(columns: Sequence[str]) -> str:
    return ", ".join(name(c) for c in columns)


def partition_by(keys: Sequence[str]) -> str:
    """The ``PARTITION BY`` clause of a window over ``keys``, with a
    trailing space; no clause (one partition) when ``keys`` is empty."""
    return f"PARTITION BY {names(keys)} " if keys else ""


def column(c: str | Column) -> str | Column:
    """A column given by name (``F.col`` style) as an :func:`inputs` entry."""
    return name(c) if isinstance(c, str) else c


def event_micros(ts: str) -> str:
    """µs since the epoch of ``ts`` (SQL text) as an event time: the
    text form of ``unix_micros(functions.timeutil.event_time(ts))``."""
    return f"unix_micros(CAST({ts} AS TIMESTAMP))"


def inputs(df: DataFrame, exprs: Sequence[str | Column]) -> tuple[DataFrame, list[str]]:
    """``(df, texts)``: each of ``exprs`` as parenthesized SQL text over
    the returned DataFrame. Text passes through; Columns are added to
    ``df`` in one ``withColumns`` as ``__in<i>``."""
    cols = {f"__in{i}": e for i, e in enumerate(exprs) if isinstance(e, Column)}
    if cols:
        df = df.withColumns(cols)
    return df, [f"({e})" if isinstance(e, str) else f"`__in{i}`" for i, e in enumerate(exprs)]
