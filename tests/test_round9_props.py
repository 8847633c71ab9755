"""Round-9 property/fuzz hardening (no declared-query surface):

- ``simhash64`` against a pure-Python md5 model on hash-random texts
  (bit-63 two's-complement assembly, zero/NULL-token degenerates);
- ``sessionize … OVER`` beside a JOIN over a generated grid of SQL
  shapes (qualified/unqualified items, struct paths, WHERE, ORDER BY,
  CTE wrapping), each asserted result-identical to the documented CTE
  workaround.
"""

import hashlib

import pytest

from duckdb_behavioral_spark.sql_surface import behavioral_sql


def _hash32(*xs):
    h = 2166136261
    for x in xs:
        for b in str(x).encode():
            h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return h


# --- simhash64 vs pure-python model -----------------------------------------


def _py_simhash64(text: str) -> int:
    toks = text.strip().split() if text.strip() else [""]
    sums = [0] * 64
    for t in toks:
        hx = hashlib.md5(t.encode()).hexdigest()
        h1, h2 = int(hx[:12], 16), int(hx[12:24], 16)
        for b in range(48):
            sums[b] += 1 if (h1 >> b) & 1 else -1
        for b in range(16):
            sums[48 + b] += 1 if (h2 >> b) & 1 else -1
    out = 0
    for b in range(63):
        if sums[b] > 0:
            out += 1 << b
    if sums[63] > 0:
        out += -(1 << 63)
    return out


def test_simhash64_matches_python_model(spark):
    from duckdb_behavioral_spark.functions.hamming import simhash64

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa", "UPPER", "Mixed", "x", "1234"]
    rows = []
    for i in range(60):
        n = _hash32("n", i) % 12 + 1
        text = " ".join(vocab[_hash32("w", i, j) % len(vocab)] for j in range(n))
        rows.append((i, text))
    rows.append((1000, ""))        # zero-token degenerate
    rows.append((1001, "   "))     # whitespace-only
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    for doc_id, text in rows:
        assert got[doc_id] == _py_simhash64(text), (doc_id, text)


def test_simhash64_bit63_is_reachable(spark):
    # find a single token whose h2 bit 15 is set -> one-token doc's
    # simhash has bit 63 set -> value is NEGATIVE in two's complement
    from duckdb_behavioral_spark.functions.hamming import simhash64

    tok = None
    for i in range(1000):
        cand = f"tok{i}"
        h2 = int(hashlib.md5(cand.encode()).hexdigest()[12:24], 16)
        if (h2 >> 15) & 1:
            tok = cand
            break
    assert tok is not None
    docs = spark.createDataFrame([(1, tok)], "doc_id long, text string")
    v = simhash64(docs).collect()[0]["simhash"]
    assert v < 0 and v == _py_simhash64(tok)


# --- sessionize-JOIN fuzz ----------------------------------------------------


@pytest.fixture(scope="module")
def fuzz_tables(spark):
    ev = spark.createDataFrame(
        [
            (u, f"2024-01-0{1 + (i % 5)} 0{i % 10}:{10 * (i % 5)}:00")
            for u in range(4)
            for i in range(6)
        ],
        "user_id long, ts_s string",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    ev.createOrReplaceTempView("fz_ev")
    spark.createDataFrame(
        [(u, f"tier{u % 2}", (f"c{u % 3}",)) for u in range(4)],
        "user_id long, tier string, props struct<country:string>",
    ).createOrReplaceTempView("fz_dim")
    return True


_S_Q = ("sessionize(e.ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY e.user_id ORDER BY e.ts)")
_S_U = ("sessionize(ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY user_id ORDER BY ts)")

# (select items, join clause, window form, where, order_by)
_SHAPES = [
    ("e.user_id, e.ts, d.tier", "ON e.user_id = d.user_id", _S_Q, "", ""),
    ("e.user_id, e.ts, d.tier", "ON e.user_id = d.user_id", _S_Q,
     "WHERE d.tier = 'tier0'", ""),
    ("e.user_id, e.ts, d.tier", "ON e.user_id = d.user_id", _S_Q,
     "", "ORDER BY e.user_id, e.ts"),
    ("e.user_id, e.ts, d.props.country", "ON e.user_id = d.user_id", _S_Q,
     "", ""),
    ("e.user_id, e.ts, upper(d.tier) AS ut", "ON e.user_id = d.user_id",
     _S_Q, "WHERE d.props.country <> 'zz'", ""),
    ("user_id, ts, tier", "USING (user_id)", _S_U, "", ""),
    ("user_id, ts, tier", "USING (user_id)", _S_U,
     "WHERE tier = 'tier1'", "ORDER BY ts"),
]


@pytest.mark.parametrize("items,join,win,where,order", _SHAPES)
def test_hoist_equals_cte_workaround(spark, fuzz_tables, items, join, win,
                                     where, order):
    direct = (
        f"SELECT {items}, {win} AS sid "
        f"FROM fz_ev e JOIN fz_dim d {join} {where} {order}"
    )
    # CTE workaround: join+filter first, then sessionize unqualified.
    # The CTE's output column for `d.props.country` is `country` and
    # for `upper(d.tier) AS ut` is `ut` — reference each item by its
    # SQL-standard output name in the outer select.
    def _outname(item):
        item = item.strip()
        up = item.upper()
        if " AS " in up:
            return item[up.rindex(" AS ") + 4:].strip()
        return item.rsplit(".", 1)[-1]

    cte_items = ", ".join(_outname(i) for i in items.split(","))
    cte = (
        f"WITH j AS (SELECT {items} FROM fz_ev e JOIN fz_dim d {join} "
        f"{where}) "
        f"SELECT {cte_items}, "
        "sessionize(ts, INTERVAL '30 minutes') "
        "OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM j"
    )
    got = sorted(map(tuple, behavioral_sql(spark, direct).collect()))
    want = sorted(map(tuple, behavioral_sql(spark, cte).collect()))
    assert got == want and len(got) > 0


def test_hoist_cte_and_subquery_wrapping(spark, fuzz_tables):
    inner = (
        f"SELECT e.user_id, e.ts, d.tier, {_S_Q} AS sid "
        "FROM fz_ev e JOIN fz_dim d ON e.user_id = d.user_id"
    )
    wrapped = f"WITH w AS ({inner}) SELECT tier, count(*) AS n, max(sid) AS m FROM w GROUP BY tier ORDER BY tier"
    sub = f"SELECT tier, count(*) AS n, max(sid) AS m FROM ({inner}) z GROUP BY tier ORDER BY tier"
    a = behavioral_sql(spark, wrapped).collect()
    b = behavioral_sql(spark, sub).collect()
    assert a == b and len(a) == 2
