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
- ``sessionize(ts, INTERVAL g) OVER (PARTITION BY k ORDER BY o)`` →
  the lag/running-sum window derivation, rewriting the statement's
  FROM clause to a derived table that adds the lag column (pure
  window SQL, no UDF).

Everything else in the statement — CTEs, WHERE, GROUP BY, ORDER BY,
other select items — passes through untouched, so the SURVEY §2.4
statements run verbatim (tests/test_sql_verbatim.py). The rewrite is
purely lexical over a balanced-paren scan; it does not parse SQL.

Scope notes: ``sessionize … OVER`` supports ``FROM <identifier>`` /
``FROM (subquery)``, each with an optional ``[AS] alias`` (every
reference test/example shape, plus aliased and inline-subquery
variants), and a same-scope ``WHERE`` — which the rewrite moves
INSIDE the lag derived table, because SQL evaluates window functions
after the WHERE (leaving it outside would let filtered-out rows
donate ``__prev_ts`` values the reference never sees). ``JOIN`` in the
same SELECT wraps the whole FROM…JOIN…WHERE segment in the lag
derived table, so the window sees the joined+filtered rows — SQL's
evaluation order. Qualified chains in the outer scope (select items,
ORDER BY) are HOISTED through the derived table (``a.b`` is projected
as ``a.b AS __q_a_b`` inside, where the qualifier is still in scope,
and renamed outside — valid for both the table-alias and struct-field
readings, so the lexical rewrite needs no schema knowledge). ``tbl.*``
hoists as a struct (``struct(tbl.*) AS __q_tbl__star`` inside,
``__q_tbl__star.*`` outside — Spark's struct-star expansion restores
tbl's columns under their own names), and qualified FUNCTION
references (``db.fn(…)``) pass through untouched — they resolve from
the catalog, not the FROM scope. UNCORRELATED subqueries in the outer
scope pass through verbatim (they resolve entirely from their own
FROM scope / the catalog, so they survive the derived-table rewrite;
bare-name correlation also survives, because the referenced column
flows through the derived table's ``SELECT *``). Shapes a hoist
cannot express (multi-level ``a.b.*``, subqueries carrying a
qualified chain whose qualifier is not bound inside the subquery —
a possible outer-table-alias correlation, which cannot survive the
derived table) and ``GROUP BY`` (grouping changes the rows the window
sees) raise a ``ValueError`` pointing at the CTE workaround rather
than silently computing the window over the wrong row set. One
statement may contain many behavioral aggregate calls but at most one
sessionize-OVER.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from duckdb_behavioral_spark.intervals import to_micros
from duckdb_behavioral_spark.operators.grouped import condition_bitmask

_AGG_FNS = (
    "window_funnel",
    "sequence_match_events",  # before sequence_match (prefix!)
    "sequence_match",
    "sequence_count",
    "sequence_next_node",
    "retention",
)


def behavioral_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Execute a reference-dialect behavioral SQL statement on Spark.

    The rewrite runs schema-aware: registered table/view schemas let
    the sessionize-JOIN hoist prove whether a subquery's qualified
    chain binds inside the subquery's own FROM scope or is a genuine
    outer-alias correlation (hoisted mechanically). The pure-string
    :func:`rewrite_behavioral_sql` API keeps the lexical-only
    behavior (pointed CTE error for every unproven chain)."""
    from duckdb_behavioral_spark.sql import register

    register(spark)

    def _resolver(name: str) -> "set[str] | None":
        try:
            return {f.name.lower() for f in spark.table(name).schema.fields}
        except Exception:  # noqa: BLE001 — unresolvable ⇒ unprovable
            return None

    return spark.sql(rewrite_behavioral_sql(sql, resolver=_resolver))


def rewrite_behavioral_sql(sql: str, resolver=None) -> str:
    """Source-to-source rewrite of behavioral calls into Spark SQL,
    plus two host-dialect gaps the reference's docs/examples rely on:
    DuckDB's 1-based NULL-tolerant list subscript and
    ``EXTRACT(EPOCH FROM <interval>)``. ``resolver`` (optional,
    ``table -> lowercase column-name set | None``) enables the
    schema-aware correlated-subquery hoist; without it every unproven
    subquery chain keeps the pointed CTE error."""
    sql = _rewrite_distinct_on(sql)
    sql = _rewrite_sessionize(sql, resolver)
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
        end = _scope_end(sql, kw_from[1], d0)
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
        f"struct(unix_micros({ts}) AS t, {condition_bitmask(conds)} AS m) END)"
    )


def _expand(fn: str, args) -> str:
    if fn == "retention":
        if not 1 <= len(args) <= 32:
            raise ValueError(f"retention takes 1..32 conditions, got {len(args)}")
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
            f"struct(unix_micros({ts}) AS t, CAST({val} AS STRING) AS v, "
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


# --- outer-scope subquery handling (sessionize + JOIN hoist) ----------------

_CHAIN_RE = re.compile(r"(?<![\w.])[A-Za-z_]\w*(?:\s*\.\s*(?:[A-Za-z_]\w*|\*))+")


def _subquery_outer_spans(
    sub: str,
    outer_aliases: "set[str] | None" = None,
    resolver=None,
) -> "list[tuple[int, int]]":
    """Classify every qualified chain in a (string-blanked) outer-
    region subquery; return the spans of chains that are PROVABLY
    outer-scope correlations (safe to hoist into the derived table),
    raising the pointed CTE error for chains that are neither provably
    inner nor provably outer.

    A chain whose qualifier is bound inside the subquery's own FROM
    scope is inner — it passes through verbatim. A chain whose
    qualifier is NOT bound inside but IS an alias of the segment being
    wrapped (``outer_aliases``) is an outer correlation — hoistable,
    PROVIDED no inner reading could shadow it: SQL resolves the
    qualifier against the subquery's own columns first, so the hoist
    is only safe when ``resolver`` (the registered-catalog schema
    lookup) shows that NO table in the subquery's FROM scope carries a
    column of that name, and every such source IS a resolvable table
    (a derived table or unresolvable view could hide a shadowing
    column). Everything unprovable keeps the pointed error —
    qualified function calls excepted (catalog-resolved), and
    BARE-name correlation flows through ``SELECT *`` unchanged."""
    bound: set[str] = set()
    tables: list[str] = []

    def _eat_source(m: "re.Match[str]") -> str:
        tbl = m.group("tbl")
        bound.add(tbl.split(".")[0].lower())
        bound.add(tbl.split(".")[-1].lower())
        tables.append(tbl)
        alias, keep = m.group("alias"), ""
        if alias:
            if alias.lower() in _CLAUSE_KEYWORDS:
                keep = alias  # clause keyword, not an alias
            else:
                bound.add(alias.lower())
        return " " * (len(m.group(0)) - len(keep)) + keep

    masked = re.sub(
        r"\b(?:FROM|JOIN)\s+(?P<tbl>[A-Za-z_][\w.]*)"
        r"(?:\s+(?:AS\s+)?(?P<alias>[A-Za-z_]\w*))?",
        _eat_source,
        sub,
        flags=re.IGNORECASE,
    )
    # any non-table source (derived table / lateral) means we cannot
    # enumerate the subquery's column namespace — shadowing unprovable
    opaque_sources = bool(
        re.search(r"\b(?:FROM|JOIN)\s*\(", masked, re.IGNORECASE)
    )
    for m in re.finditer(r"\)\s*(?:AS\s+)?([A-Za-z_]\w*)", masked):
        if m.group(1).lower() not in _CLAUSE_KEYWORDS:
            bound.add(m.group(1).lower())  # derived-table alias
    for m in re.finditer(r"\b([A-Za-z_]\w*)\s+AS\s*\(", masked, re.IGNORECASE):
        bound.add(m.group(1).lower())  # CTE name
    spans: list[tuple[int, int]] = []
    for cm in _CHAIN_RE.finditer(masked):
        if re.match(r"\s*\(", masked[cm.end():]):
            continue  # qualified FUNCTION reference — catalog-resolved
        chain = re.sub(r"\s*\.\s*", ".", cm.group(0))
        q = chain.split(".")[0].lower()
        if q in bound:
            continue  # inner-scope chain
        if (
            outer_aliases is not None
            and resolver is not None
            and q in outer_aliases
            and not opaque_sources
        ):
            shadowed = False
            for t in tables:
                cols = resolver(t)
                if cols is None or q in cols:
                    shadowed = True  # unresolvable source or real shadow
                    break
            if not shadowed:
                spans.append((cm.start(), cm.end()))
                continue
        raise ValueError(
            f"sessionize … OVER with JOIN: the subquery reference "
            f"{chain!r} may be correlated with the outer query (its "
            "qualifier is not bound inside the subquery) — compute "
            "the session ids in a CTE first"
        )
    return spans


def _tombstone_subqueries(
    b: str,
    outer_aliases: "set[str] | None" = None,
    resolver=None,
) -> str:
    """Tombstone (NUL-fill) every balanced ``(SELECT …)`` group in a
    string-blanked outer-region copy so the chain scan and the hoist
    splice treat it as an opaque unit that passes through verbatim —
    EXCEPT the spans of provably outer-correlated chains
    (:func:`_subquery_outer_spans`), which stay visible so the
    ordinary hoist machinery projects them into the derived table and
    renames their occurrences inside the subquery too."""
    out = list(b)
    for mm in re.finditer(r"\(\s*SELECT\b", b, re.IGNORECASE):
        if out[mm.start()] == "\0":
            continue  # nested inside an already-tombstoned subquery
        i, depth = mm.start(), 0
        while i < len(b):
            if b[i] == "(":
                depth += 1
            elif b[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        if depth:
            raise ValueError("unbalanced parentheses in subquery")
        spans = _subquery_outer_spans(
            b[mm.start(): i + 1], outer_aliases, resolver
        )
        for k in range(mm.start(), i + 1):
            out[k] = "\0"
        for s0, s1 in spans:
            for k in range(mm.start() + s0, mm.start() + s1):
                out[k] = b[k]
    return "".join(out)


def _from_scope_aliases(segment: str) -> "set[str]":
    """Lower-cased alias/table names bound by the FROM…JOIN scope of
    the segment being wrapped into the derived table (the names an
    outer-region subquery chain may legitimately correlate with)."""
    names: set[str] = set()
    blanked = re.sub(
        r"'(?:[^']|'')*'", lambda mm: " " * len(mm.group(0)), segment
    )
    for m in re.finditer(
        r"\b(?:FROM|JOIN)\s+(?P<tbl>[A-Za-z_][\w.]*)"
        r"(?:\s+(?:AS\s+)?(?P<alias>[A-Za-z_]\w*))?",
        blanked,
        re.IGNORECASE,
    ):
        names.add(m.group("tbl").split(".")[-1].lower())
        a = m.group("alias")
        if a and a.lower() not in _CLAUSE_KEYWORDS:
            names.add(a.lower())
    return names


# --- sessionize (window form, statement-level) -----------------------------

_OVER_RE = re.compile(
    r"\s*OVER\s*\(\s*(?:PARTITION\s+BY\s+(?P<keys>.+?)\s+)?ORDER\s+BY\s+(?P<ob>.+?)\s*\)",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_sessionize(sql: str, resolver=None) -> str:
    found = _scan_call(sql, "sessionize")
    if found is None:
        return sql
    lo, hi, args = found
    if len(args) != 2:
        raise ValueError(f"sessionize takes (ts, INTERVAL), got {len(args)} args")
    ts = args[0]
    gap_us = _interval_us(args[1])
    mo = _OVER_RE.match(sql, hi)
    if not mo:
        raise ValueError("sessionize requires OVER (PARTITION BY … ORDER BY …)")
    keys = (mo.group("keys") or "").strip()
    ob = mo.group("ob").strip()
    # bare OVER (ORDER BY …) = one global session stream (reference
    # test/sql/sessionize.test:21); a partition-less window is a
    # single-reducer at scale — supported for dialect parity, real
    # deployments partition by the entity key.
    part = f"PARTITION BY {keys} " if keys else ""
    # strictly-greater gap starts a new session; NULL ts ⇒ NULL id but
    # neighbors unaffected (reference src/sessionize.rs:290-298)
    expr = (
        f"CAST(CASE WHEN ({ts}) IS NULL THEN NULL ELSE "
        f"SUM(CASE WHEN __prev_ts IS NOT NULL "
        f"AND unix_micros({ts}) - unix_micros(__prev_ts) > {gap_us} "
        f"THEN 1 ELSE 0 END) "
        f"OVER ({part}ORDER BY {ob} ROWS UNBOUNDED PRECEDING) + 1 "
        f"END AS BIGINT)"
    )
    out = sql[:lo] + expr + sql[mo.end():]
    # push a lag() derived table under the FROM of the SELECT
    # containing the call — the first FROM after the call at the call's
    # own paren depth (handles top-level, CTE bodies, and FROM
    # <identifier>/<subquery> with an optional alias).
    # Plain lag (no IGNORE NULLS) mirrors operators/sessionize.py:
    # NULL-ts rows sort first in ascending order, so non-NULL rows only
    # ever see non-NULL predecessors and don't split their neighbors.
    call_depth = _depth_at(out, lo)
    from_re = re.compile(r"\bFROM\s+", re.IGNORECASE)
    m = None
    for cand in from_re.finditer(out, lo):
        if _in_string(out, cand.start()):
            continue
        if _depth_at(out, cand.start()) == call_depth:
            m = cand
            break
    if m is None:
        raise ValueError("sessionize rewrite: could not locate FROM clause")
    src_lo = m.end()
    if out[src_lo] == "(":
        # balanced subquery
        i, depth = src_lo + 1, 1
        while i < len(out) and depth:
            if out[i] == "'":
                i = _skip_string(out, i)
                continue
            if out[i] == "(":
                depth += 1
            elif out[i] == ")":
                depth -= 1
            i += 1
        src_hi = i
    else:
        ident = re.match(r"\w+", out[src_lo:])
        if not ident:
            raise ValueError("sessionize rewrite: could not parse FROM source")
        src_hi = src_lo + ident.end()
    # optional [AS] alias [(col, …)] — kept INSIDE the derived table
    # (the lag's ts/keys may be alias-qualified) and reattached OUTSIDE
    # (the statement's other select items may be too)
    amo = re.match(
        r"\s*(?:AS\s+)?(?P<name>\w+)\s*(?:\(\s*\w+(?:\s*,\s*\w+)*\s*\))?",
        out[src_hi:],
        re.IGNORECASE,
    )
    if amo and amo.group("name").lower() in _CLAUSE_KEYWORDS:
        amo = None  # clause keyword, not an alias
    alias = out[src_hi: src_hi + amo.end()] if amo else ""
    src_hi += amo.end() if amo else 0
    outer_alias = f" {amo.group('name')}" if amo else ""
    # scan the rest of this SELECT scope: JOIN / GROUP BY change what
    # rows the window sees and can't be expressed by this pushdown;
    # a WHERE must move INSIDE the derived table (SQL evaluates window
    # functions AFTER the WHERE — leaving it outside would let filtered-
    # out rows donate __prev_ts values the reference never sees).
    tail_lo, tail_hi = src_hi, _scope_end(out, src_hi, call_depth)
    tail = out[tail_lo:tail_hi]
    masked = _mask_nested(tail)  # blank nested (…) so scans see only this scope
    if re.search(r"\b(?:GROUP\s+BY|HAVING)\b", masked, re.IGNORECASE):
        # grouping changes the rows the window sees (SQL evaluates
        # window functions AFTER GROUP BY); this pushdown can't express
        # that — keep the pointed workaround error
        raise ValueError(
            "sessionize … OVER alongside GROUP BY in the same SELECT "
            "is not supported — compute the session ids in a CTE first "
            "(WITH s AS (SELECT …, sessionize(…) OVER (…) AS sid FROM t) "
            "SELECT … FROM s JOIN …)"
        )
    if re.search(r"\bJOIN\b", masked, re.IGNORECASE):
        # JOIN form: the window runs over the JOINED (and WHERE-
        # filtered) rows, so the lag derived table must wrap the WHOLE
        # FROM…JOIN…WHERE segment, not just the first source. Table
        # qualifiers don't survive a derived table, so every qualified
        # chain `a.b[.c…]` in the OUTER scope (select items — including
        # the already-expanded sessionize expression — and the
        # post-segment ORDER BY/LIMIT clauses) is HOISTED: projected
        # inside the derived table as `a.b AS __q_a_b`, where the
        # qualifier is still in scope, and renamed at its outer
        # occurrences. Both readings of a dotted chain — table-alias
        # column and struct-field path — are valid expressions inside
        # the derived table, so the hoist needs NO schema knowledge.
        # Chains inside the segment (ON/WHERE) stay untouched — they
        # remain in scope. Uncorrelated outer-scope subqueries pass
        # through verbatim (tombstoned as opaque units); shapes a
        # hoist cannot express (multi-level `.*`, subqueries with a
        # possibly-outer-correlated qualified chain) keep the pointed
        # CTE-workaround error.
        # the enclosing SELECT = the last one before the call at the
        # call's OWN paren depth (a prefix-masked rfind would miss it
        # when the call sits inside a CTE body or FROM-subquery, whose
        # prefix has an unbalanced open paren)
        sel_pos = -1
        for smo in re.finditer(r"\bSELECT\b", out[:lo], re.IGNORECASE):
            if _in_string(out, smo.start()):
                continue
            if _depth_at(out, smo.start()) == call_depth:
                sel_pos = smo.start()
        if sel_pos < 0:
            raise ValueError("sessionize rewrite: could not locate SELECT")
        items_lo = sel_pos + len("SELECT")
        seg_end_mo = _POST_WHERE_CLAUSES.search(masked)
        seg_end = seg_end_mo.start() if seg_end_mo else len(tail)
        regions = [out[items_lo:m.start()], out[tail_lo + seg_end:tail_hi]]
        blank = lambda s: re.sub(
            r"'(?:[^']|'')*'", lambda mm: " " * len(mm.group(0)), s
        )
        # outer view: strings blanked AND subqueries tombstoned —
        # uncorrelated subqueries pass through verbatim; with a
        # resolver, PROVEN outer-alias correlations stay visible
        # through the tombstone so the chain scan hoists them like any
        # other outer chain (projected into the derived table, renamed
        # at their in-subquery occurrences); unproven chains keep the
        # pointed CTE error (_subquery_outer_spans).
        seg_aliases = _from_scope_aliases(
            "FROM " + out[src_lo:src_hi] + tail[:seg_end]
        )
        opaque = lambda s: _tombstone_subqueries(blank(s), seg_aliases, resolver)
        chain_re = _CHAIN_RE
        chains: list[str] = []
        for b in map(opaque, regions):
            for cm in chain_re.finditer(b):
                key = re.sub(r"\s*\.\s*", ".", cm.group(0))
                if re.match(r"\s*\(", b[cm.end():]):
                    # qualified FUNCTION reference (db.fn(args)): the
                    # name resolves from the catalog, not the FROM
                    # scope, so it survives the derived table untouched
                    # — skip it; chains among its ARGUMENTS are separate
                    # matches and hoist individually.
                    continue
                if ".*" in key and not re.fullmatch(r"[A-Za-z_]\w*\.\*", key):
                    raise ValueError(
                        "sessionize … OVER with JOIN supports `tbl.*` "
                        "but not multi-level `.*` expansion — compute "
                        "the session ids in a CTE first"
                    )
                if key not in chains:
                    chains.append(key)
        # `tbl.*` hoists as a STRUCT: `struct(tbl.*) AS __q_tbl__star`
        # inside (where the qualifier is in scope) and `__q_tbl__star.*`
        # at the outer occurrence — Spark's struct-field star expansion
        # reproduces tbl's columns under their own names.
        mangled = {
            c: "__q_" + c.replace(".*", "__star").replace(".", "_")
            for c in chains
        }
        seen_mangled: dict[str, str] = {}
        for c, mg in mangled.items():
            # Collision probe is LEXICAL (the statement text only): a
            # source-table column named __q_* that the statement never
            # references still flows through the derived table's
            # SELECT * and duplicates the hoisted projection — that
            # case surfaces as Spark's ambiguous-reference analysis
            # error instead of this pointed hint. Accepted residual
            # risk: real schemas don't carry __q_-prefixed columns,
            # and checking would need schema knowledge the lexical
            # rewrite deliberately avoids.
            if re.search(rf"\b{re.escape(mg)}\b", sql, re.IGNORECASE):
                raise ValueError(
                    f"sessionize … OVER with JOIN: the hoisted name "
                    f"{mg} (for {c}) collides with an existing column — "
                    "compute the session ids in a CTE first"
                )
            # distinct chains may fold to one mangled name (dots and
            # underscores both map to '_'; Spark resolution is
            # case-insensitive) — ambiguous, keep the pointed error
            prev = seen_mangled.setdefault(mg.lower(), c)
            if prev != c:
                raise ValueError(
                    f"sessionize … OVER with JOIN: the references {prev} "
                    f"and {c} would hoist to the same name {mg} — "
                    "compute the session ids in a CTE first"
                )

        def _hoist(text: str, alias_bare: bool = False) -> str:
            # replace outer chain occurrences with their hoisted names;
            # match on a string-blanked copy, splice into the original.
            # Longest chains first so a.b.c wins over a.b; matched
            # spans are tombstoned to stop shorter-chain re-matches.
            # ``alias_bare`` (select-items region): a chain that IS a
            # whole top-depth select item must keep its output column
            # name — emit `__q_a_b AS b`, matching SELECT a.b's name.
            b = opaque(text)
            spans: list[tuple[int, int, str]] = []
            for c in sorted(chains, key=len, reverse=True):
                pat = re.compile(
                    r"(?<![\w.])"
                    + re.escape(c).replace(r"\.", r"\s*\.\s*")
                    + r"(?![\w.])"
                )
                for mo2 in pat.finditer(b):
                    spans.append((mo2.start(), mo2.end(), c))
                b = pat.sub(lambda s: "\0" * len(s.group(0)), b)
            spans.sort()
            blanked = opaque(text)
            parts, prev = [], 0
            for s0, s1, c in spans:
                rep = mangled[c]
                if c.endswith(".*"):
                    # star expansion of the hoisted struct; a star item
                    # can't take an AS alias — emit it and move on
                    parts.append(text[prev:s0])
                    parts.append(rep + ".*")
                    prev = s1
                    continue
                if alias_bare:
                    before = blanked[:s0].strip()
                    after = blanked[s1:].strip()
                    depth0 = blanked.count("(", 0, s0) - blanked.count(")", 0, s0)
                    if (
                        depth0 == 0
                        and (before == "" or before.endswith(",")
                             or before.upper() in ("DISTINCT", "ALL"))
                        and (after == "" or after.startswith(","))
                    ):
                        rep = f"{rep} AS {c.rsplit('.', 1)[1]}"
                parts.append(text[prev:s0])
                parts.append(rep)
                prev = s1
            parts.append(text[prev:])
            return "".join(parts)

        segment = out[src_lo:src_hi] + tail[:seg_end]
        hoists = "".join(
            f", struct({c}) AS {mangled[c]}"
            if c.endswith(".*")
            else f", {c} AS {mangled[c]}"
            for c in chains
        )
        derived = (
            f"FROM (SELECT *{hoists}, lag({ts}) "
            f"OVER ({part}ORDER BY {ob}) AS __prev_ts "
            f"FROM {segment})"
        )
        out = (
            out[:items_lo]
            + _hoist(regions[0], alias_bare=True)
            + derived
            + _hoist(regions[1])
            + out[tail_hi:]
        )
        if _scan_call(out, "sessionize") is not None:
            raise ValueError(
                "at most one sessionize call per statement is supported"
            )
        return out
    wmo = re.search(r"\bWHERE\b", masked, re.IGNORECASE)
    where_inner = ""
    if wmo:
        wend_mo = _POST_WHERE_CLAUSES.search(masked, wmo.end())
        wend = wend_mo.start() if wend_mo else len(tail)
        where_inner = " " + tail[wmo.start():wend].strip()
        tail = tail[: wmo.start()] + tail[wend:]
    src = out[src_lo:src_hi - len(alias)] if alias else out[src_lo:src_hi]
    derived = (
        f"FROM (SELECT *, lag({ts}) "
        f"OVER ({part}ORDER BY {ob}) AS __prev_ts "
        f"FROM {src}{alias}{where_inner}){outer_alias}"
    )
    out = out[: m.start()] + derived + tail + out[tail_hi:]
    if _scan_call(out, "sessionize") is not None:
        raise ValueError("at most one sessionize call per statement is supported")
    return out


_CLAUSE_KEYWORDS = frozenset(
    (
        "where", "group", "order", "having", "limit", "union", "qualify",
        "window", "join", "on", "left", "right", "inner", "cross", "full",
        "except", "intersect",
    )
)

# clause heads that end a WHERE condition
_POST_WHERE_CLAUSES = re.compile(
    r"\b(?:GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT|UNION"
    r"|EXCEPT|INTERSECT)\b",
    re.IGNORECASE,
)


def _scope_end(sql: str, start: int, depth: int) -> int:
    """Index where the current SELECT scope ends: the closing paren
    dropping below the scope's depth, or end of string. Balanced
    nested groups and string literals are skipped whole."""
    i = start
    while i < len(sql):
        c = sql[i]
        if c == "'":
            i = _skip_string(sql, i)
            continue
        if c == "(":
            i = _skip_balanced(sql, i)
            continue
        if c == ")":
            return i  # dropping below the scope's depth
        i += 1
    return len(sql)


def _mask_nested(sql: str) -> str:
    """Copy of ``sql`` with nested balanced ``(…)`` groups and string
    literals blanked, so clause-keyword scans see only this scope."""
    out = list(sql)
    i = 0
    while i < len(sql):
        c = sql[i]
        if c == "'":
            j = _skip_string(sql, i)
            for k in range(i, min(j, len(sql))):
                out[k] = " "
            i = j
            continue
        if c == "(":
            j = _skip_balanced(sql, i)
            for k in range(i, min(j, len(sql))):
                out[k] = " "
            i = j
            continue
        i += 1
    return "".join(out)


def _skip_balanced(sql: str, i: int) -> int:
    """Index just past the balanced paren group opening at ``i``."""
    depth = 0
    while i < len(sql):
        if sql[i] == "'":
            i = _skip_string(sql, i)
            continue
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return i
