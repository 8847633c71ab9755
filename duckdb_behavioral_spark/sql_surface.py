"""Verbatim SQL surface: run the reference's behavioral SQL through
``spark.sql`` with zero rewriting by the caller.

The reference registers its seven functions as SQL aggregates (and
``sessionize`` as a window function) directly in the host engine
(reference: src/ffi/mod.rs:64-84), so its users write::

    SELECT user_id,
           window_funnel(INTERVAL '1 hour', ts,
             event_type = 'view', event_type = 'click') AS step
    FROM events GROUP BY user_id

Spark has no Python UDAF registration, so ``behavioral_sql`` closes
the gap with a *targeted source-to-source rewrite*: each behavioral
call form is expanded in place into Spark-executable SQL —

- ``retention(c0, c1, …)`` → a pure JVM ``array(bool_or…)`` aggregate
  expression (no Python at all);
- ``window_funnel`` / ``sequence_match`` / ``sequence_count`` /
  ``sequence_match_events`` / ``sequence_next_node`` → a
  ``collect_list(struct(…))`` aggregate fed to the registered kernel
  UDFs from :mod:`duckdb_behavioral_spark.sql`;
- ``sessionize(ts, INTERVAL g) OVER (spec)`` → the session-id
  expression of :mod:`duckdb_behavioral_spark.operators.sessionize`
  (a ``lag`` and a running ``sum``, pure window SQL, no UDF).

Everything else in the statement — CTEs, WHERE, GROUP BY, ORDER BY,
other select items — passes through untouched, so the SURVEY §2.4
statements run verbatim (tests/test_sql_verbatim.py). The rewrite is
purely lexical over a balanced-paren scan; it does not parse SQL.

``sessionize … OVER (spec)`` is expanded where it stands, over the
user's own ``spec``: Spark accepts the nested ``lag`` inside the
running ``sum`` in a select item, so the window is evaluated where the
reference's host evaluates it, after its scope's FROM, JOIN, WHERE and
GROUP BY. Any source, join, subquery or qualified name the statement
uses is Spark's to resolve, and a statement may hold several calls.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from duckdb_behavioral_spark.intervals import to_micros
from duckdb_behavioral_spark.operators.grouped import condition_bitmask
from duckdb_behavioral_spark.operators.sessionize import session_id_sql
from duckdb_behavioral_spark.sqltext import event_micros

_AGG_FNS = (
    "window_funnel",
    "sequence_match_events",  # before sequence_match (prefix!)
    "sequence_match",
    "sequence_count",
    "sequence_next_node",
    "retention",
)


def behavioral_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Execute a reference-dialect behavioral SQL statement on Spark:
    :func:`rewrite_behavioral_sql`, then ``spark.sql``."""
    from duckdb_behavioral_spark.sql import register

    register(spark)
    return spark.sql(rewrite_behavioral_sql(sql))


def rewrite_behavioral_sql(sql: str) -> str:
    """Source-to-source rewrite of behavioral calls into Spark SQL,
    plus the host-dialect gaps the reference's docs/examples rely on:
    DuckDB's ``DISTINCT ON``, 1-based NULL-tolerant list subscript,
    ``len``, ``read_parquet`` and ``EXTRACT(EPOCH FROM <interval>)``."""
    sql = _rewrite_distinct_on(sql)
    sql = _rewrite_sessionize(sql)
    for fn in _AGG_FNS:
        sql = _rewrite_calls(sql, fn)
    sql = _rewrite_epoch_extract(sql)
    sql = _rewrite_subscripts(sql)
    sql = _rewrite_len(sql)
    sql = _rewrite_read_parquet(sql)
    return sql


def _rewrite_epoch_extract(sql: str) -> str:
    """``EXTRACT(EPOCH FROM x)`` → total seconds of an interval.

    Spark's EXTRACT has no EPOCH field; for the reference's usage (x =
    timestamp difference, e.g. examples/01_sessions.sql:51) seconds =
    ``unix_micros(epoch + x) DIV 1e6``. Timestamp-typed x is not
    supported (use unix_micros directly)."""
    pos = 0
    while True:
        found = _scan_call(sql, "EXTRACT", pos)
        if found is None:
            return sql
        lo, hi, args = found
        m = re.match(r"^\s*EPOCH\s+FROM\s+(.*)$", args[0], re.IGNORECASE | re.DOTALL) \
            if len(args) == 1 else None
        if not m:
            pos = hi  # some other EXTRACT field — leave untouched
            continue
        repl = (
            f"(unix_micros(TIMESTAMP '1970-01-01 00:00:00' + ({m.group(1)})) "
            f"DIV 1000000)"
        )
        sql = sql[:lo] + repl + sql[hi:]
        pos = lo + len(repl)


_SUBSCRIPT_RE = re.compile(r"((?:\w+\.)?\w+)\[(\d+)\]")


def _rewrite_subscripts(sql: str) -> str:
    """``x[N]`` (integer-literal subscript) → ``get(x, N-1)``.

    The reference dialect (DuckDB) indexes lists 1-based and yields
    NULL out of range; Spark's ``[]`` is 0-based and throws under
    ANSI. ``get`` reproduces both differences exactly
    (examples/03_retention.sql indexes ``r[4]`` on a 4-element
    retention array)."""
    out, pos = [], 0
    for m in _SUBSCRIPT_RE.finditer(sql):
        if _in_string(sql, m.start()):
            continue
        out.append(sql[pos : m.start()])
        out.append(f"get({m.group(1)}, {int(m.group(2)) - 1})")
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_len(sql: str) -> str:
    """DuckDB ``len(list)`` → Spark ``size(list)``.

    The reference's docs index and measure behavioral outputs as
    DuckDB lists (cookbook.md: ``WHERE len(ts) = 3`` over a
    ``sequence_match_events`` result). Spark's ``len`` only accepts
    STRING/BINARY; ``size`` is the array counterpart. Scope: the
    rewrite is lexical, so ``len`` on a string must be written
    ``length`` (the portable spelling in both dialects)."""
    out, pos = [], 0
    pat = re.compile(r"(?<![\w.])len\s*\(", re.IGNORECASE)
    for m in pat.finditer(sql):
        if _in_string(sql, m.start()):
            continue
        out.append(sql[pos : m.start()])
        out.append("size(")
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_read_parquet(sql: str) -> str:
    """DuckDB ``read_parquet('path')`` table function → Spark's
    direct-path relation ``parquet.`path``` (cookbook.md "Querying
    Parquet Files Directly"). Globs pass through — both engines
    expand them in the path."""
    while True:
        found = _scan_call(sql, "read_parquet")
        if found is None:
            return sql
        lo, hi, args = found
        if len(args) != 1:
            raise ValueError("read_parquet: expected a single path literal")
        path = _strlit(args[0])
        sql = sql[:lo] + f"parquet.`{path}`" + sql[hi:]


_DISTINCT_ON_RE = re.compile(r"SELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)


def _rewrite_distinct_on(sql: str) -> str:
    """DuckDB/Postgres ``SELECT DISTINCT ON (keys) items FROM src
    [WHERE ...] ORDER BY cols`` → the first row per key group via a
    ``row_number`` window (the standard Spark formulation).

    DuckDB keeps the row that sorts first under the query's ORDER BY
    (cookbook.md "Entry Page Analysis" relies on this to pick each
    session's first pageview); with no ORDER BY the choice is
    arbitrary, and the rewrite orders by the keys for determinism.
    Scope: the DISTINCT ON select's scope (statement or parenthesized
    subquery) must end at the ORDER BY's end — LIMIT/OFFSET after it
    is not supported."""
    while True:
        m = _DISTINCT_ON_RE.search(sql)
        if m is None:
            return sql
        if _in_string(sql, m.start()):
            raise ValueError("DISTINCT ON inside a string literal")
        d0 = _depth_at(sql, m.start())
        # keys: balanced parens starting at the '('
        kopen = sql.index("(", m.end() - 1)
        kclose = _match_paren(sql, kopen)
        keys = sql[kopen + 1 : kclose].strip()
        # select items: up to the scope-level FROM
        kw_from = _scope_keyword(sql, kclose + 1, d0, r"FROM")
        if kw_from is None:
            raise ValueError("DISTINCT ON: no FROM in scope")
        items = sql[kclose + 1 : kw_from[0]].strip()
        # scope end: where depth drops below d0 (or end of statement)
        end = _scope_end(sql, kw_from[1])
        kw_order = _scope_keyword(sql, kw_from[1], d0, r"ORDER\s+BY")
        if kw_order is not None and kw_order[0] < end:
            src = sql[kw_from[1] : kw_order[0]].strip()
            order = sql[kw_order[1] : end].strip()
        else:
            src = sql[kw_from[1] : end].strip()
            order = keys
        repl = (
            f"SELECT {items} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {keys} ORDER BY {order}) AS __don_rn "
            f"FROM {src}) WHERE __don_rn = 1"
        )
        sql = sql[: m.start()] + repl + sql[end:]


def _match_paren(sql: str, lo: int) -> int:
    """Index of the ')' matching the '(' at ``lo``."""
    depth, i = 0, lo
    while i < len(sql):
        c = sql[i]
        if c == "'":
            i = _skip_string(sql, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parentheses")


def _scope_keyword(sql: str, start: int, d0: int, kw: str):
    """First occurrence of ``kw`` at depth ``d0`` from ``start``
    (outside strings); returns (start_idx, end_idx) or None."""
    for m in re.finditer(rf"(?<![\w.]){kw}(?![\w.])", sql[start:], re.IGNORECASE):
        pos = start + m.start()
        if _in_string(sql, pos) or _depth_at(sql, pos) != d0:
            continue
        return pos, start + m.end()
    return None


def _scope_end(sql: str, start: int) -> int:
    """Index where the SELECT scope containing ``start`` ends: the
    first unmatched ')', or end of string. Balanced nested groups and
    string literals are skipped whole."""
    i = start
    while i < len(sql):
        c = sql[i]
        if c == "'":
            i = _skip_string(sql, i)
            continue
        if c == "(":
            i = _match_paren(sql, i) + 1
            continue
        if c == ")":
            return i
        i += 1
    return len(sql)


# --- lexical helpers -------------------------------------------------------


def _scan_call(sql: str, fn: str, start: int = 0):
    """Find the next ``fn(…)`` call at or after ``start`` (outside
    string literals); return (lo, hi, args) with hi past the closing
    paren and args split at depth-0 commas, or None."""
    pat = re.compile(rf"(?<![\w.]){fn}\s*\(", re.IGNORECASE)
    pos = start
    while True:
        m = pat.search(sql, pos)
        if not m:
            return None
        if _in_string(sql, m.start()):
            pos = m.end()
            continue
        i = m.end()
        depth = 1
        args, cur = [], []
        while i < len(sql) and depth:
            c = sql[i]
            if c == "'":
                j = _skip_string(sql, i)
                cur.append(sql[i:j])
                i = j
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            elif c == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
                i += 1
                continue
            cur.append(c)
            i += 1
        if depth:
            raise ValueError(f"unbalanced parentheses in {fn} call")
        last = "".join(cur).strip()
        if last:
            args.append(last)
        return m.start(), i + 1, args


def _in_string(sql: str, pos: int) -> bool:
    return sql.count("'", 0, pos) % 2 == 1


def _depth_at(sql: str, pos: int) -> int:
    """Paren nesting depth at ``pos``, skipping string literals."""
    d = 0
    i = 0
    while i < pos:
        c = sql[i]
        if c == "'":
            i = _skip_string(sql, i)
            continue
        if c == "(":
            d += 1
        elif c == ")":
            d -= 1
        i += 1
    return d


def _skip_string(sql: str, i: int) -> int:
    # single-quoted literal with '' escapes; returns index past close
    j = i + 1
    while j < len(sql):
        if sql[j] == "'":
            if j + 1 < len(sql) and sql[j + 1] == "'":
                j += 2
                continue
            return j + 1
        j += 1
    raise ValueError("unterminated string literal")


def _interval_us(arg: str) -> int:
    m = re.match(r"^\s*INTERVAL\s*'([^']+)'\s*$", arg, re.IGNORECASE)
    if not m:
        m = re.match(r"^\s*INTERVAL\s+(\d+\s+\w+)\s*$", arg, re.IGNORECASE)
    if not m:
        raise ValueError(f"expected INTERVAL literal, got {arg!r}")
    return to_micros(m.group(1))


def _strlit(arg: str) -> str:
    m = re.match(r"^\s*'((?:[^']|'')*)'\s*$", arg)
    if not m:
        raise ValueError(f"expected string literal, got {arg!r}")
    return m.group(1).replace("''", "'")


# --- aggregate rewrites ----------------------------------------------------


def _ev_collect(ts: str, conds) -> str:
    # NULL-ts rows are skipped by the reference's update loop
    # (src/ffi/window_funnel.rs:154-157); collect_list drops the NULLs.
    return (
        f"collect_list(CASE WHEN ({ts}) IS NOT NULL THEN "
        f"struct({event_micros(ts)} AS t, {condition_bitmask(conds)} AS m) END)"
    )


def _expand(fn: str, args) -> str:
    if fn == "retention":
        if not 2 <= len(args) <= 32:
            raise ValueError(f"retention takes 2..32 conditions, got {len(args)}")
        anchor = f"bool_or(coalesce({args[0]}, false))"
        elems = [anchor] + [
            f"({anchor} AND bool_or(coalesce({c}, false)))" for c in args[1:]
        ]
        # empty group → empty list, not [NULL, …]
        # (reference test/sql/retention.test:58-62)
        return (
            f"CASE WHEN count(1) = 0 THEN CAST(array() AS ARRAY<BOOLEAN>) "
            f"ELSE array({', '.join(elems)}) END"
        )

    if fn == "window_funnel":
        gap = _interval_us(args[0])
        rest = args[1:]
        mode = ""
        if rest and re.match(r"^\s*'", rest[0]):
            mode = _strlit(rest[0])
            rest = rest[1:]
        ts, conds = rest[0], rest[1:]
        ev = _ev_collect(ts, conds)
        return (
            f"wf_step({gap}, '{mode}', transform({ev}, x -> x.t), "
            f"transform({ev}, x -> x.m), {len(conds)})"
        )

    if fn in ("sequence_match", "sequence_count", "sequence_match_events"):
        pattern = _strlit(args[0]).replace("'", "''")
        ts, conds = args[1], args[2:]
        ev = _ev_collect(ts, conds)
        udf = {"sequence_match": "seq_match", "sequence_count": "seq_count",
               "sequence_match_events": "seq_match_events"}[fn]
        call = (f"{udf}('{pattern}', transform({ev}, x -> x.t), "
                f"transform({ev}, x -> x.m))")
        if fn == "sequence_match_events":
            call = f"transform({call}, x -> timestamp_micros(x))"
        return call

    if fn == "sequence_next_node":
        direction = _strlit(args[0])
        base = _strlit(args[1])
        ts, val, bc = args[2], args[3], args[4]
        conds = args[5:]
        ev = (
            f"collect_list(CASE WHEN ({ts}) IS NOT NULL THEN "
            f"struct({event_micros(ts)} AS t, CAST({val} AS STRING) AS v, "
            f"coalesce({bc}, false) AS b, {condition_bitmask(conds)} AS m) END)"
        )
        return (
            f"seq_next_node('{direction}', '{base}', "
            f"transform({ev}, x -> x.t), transform({ev}, x -> x.v), "
            f"transform({ev}, x -> x.b), transform({ev}, x -> x.m), {len(conds)})"
        )

    raise ValueError(f"unknown behavioral function {fn!r}")


def _rewrite_calls(sql: str, fn: str) -> str:
    pos = 0
    while True:
        found = _scan_call(sql, fn, pos)
        if found is None:
            return sql
        lo, hi, args = found
        repl = _expand(fn, args)
        sql = sql[:lo] + repl + sql[hi:]
        pos = lo + len(repl)


# --- sessionize (window form, in place) ------------------------------------

_OVER_RE = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)
_FRAME_RE = re.compile(
    r"\b(ROWS|RANGE|GROUPS)\s+(BETWEEN|UNBOUNDED|CURRENT|[0-9]|INTERVAL)\b", re.IGNORECASE)


def _rewrite_sessionize(sql: str) -> str:
    """``sessionize(ts, INTERVAL g) OVER (spec)`` → the operator's own
    session-id expression over the statement's ``spec``, in place. The
    window then sees what SQL gives any window in that scope: the rows
    after its FROM, JOIN, WHERE and GROUP BY. A bare ``OVER (ORDER BY
    …)`` is one global session stream (reference
    test/sql/sessionize.test:21)."""
    pos = 0
    while True:
        found = _scan_call(sql, "sessionize", pos)
        if found is None:
            return sql
        lo, hi, args = found
        if len(args) != 2:
            raise ValueError(f"sessionize takes (ts, INTERVAL), got {len(args)} args")
        mo = _OVER_RE.match(sql, hi)
        if not mo:
            raise ValueError("sessionize requires OVER ([PARTITION BY …] ORDER BY …)")
        close = _match_paren(sql, mo.end() - 1)
        spec = sql[mo.end() : close].strip()
        frame = _FRAME_RE.search(spec)
        if frame:
            # the expansion sets its own frame, and its lag takes none
            raise ValueError(
                f"sessionize … OVER takes no window frame, got {frame.group(1).upper()} "
                f"in OVER ({spec}); give only [PARTITION BY …] ORDER BY …")
        repl = session_id_sql(f"({args[0]})", _interval_us(args[1]), spec)
        sql = sql[:lo] + repl + sql[close + 1 :]
        pos = lo + len(repl)
