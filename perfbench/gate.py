"""Correctness gate: each query's Spark result against its DuckDB
oracle on the same generated parquet, compared order-insensitively
with the repository's driver-mirror normalization."""

from __future__ import annotations

import collections
import concurrent.futures
import importlib.util
import os

import duckdb

from workloads import duckdb_views


def _mirror_norm(root: str):
    path = os.path.join(root, "scripts", "driver_mirror.py")
    spec = importlib.util.spec_from_file_location("driver_mirror", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm


def _row_multiset(df, norm) -> collections.Counter:
    # a multiset, not a sorted list: normalized rows may mix None and str
    d = df[sorted(df.columns)]
    return collections.Counter(
        tuple(norm(v) for v in row) for row in d.itertuples(index=False, name=None))


def _dtype_mismatch(got, want) -> str:
    """The first column whose dtype kind differs, as the driver mirror
    checks it; ``""`` when none does. A Spark date arrives as an object
    column where DuckDB gives datetime64, which the driver accepts."""
    for c in sorted(got.columns):
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        if gk != wk and {gk, wk} not in ({"M"}, {"O", "M"}):
            return f"dtype[{c}] {got[c].dtype} != {want[c].dtype}"
    return ""


def _oracle(sf_dir: str, table: str, sql: str, threads: int):
    with duckdb.connect(config={"threads": threads}) as con:
        duckdb_views(con, sf_dir, table)
        return con.execute(sql).df()


def check(root: str, sf_dir: str, table: str, results: dict, queries) -> dict:
    """``results`` maps query name to its Spark pandas frame; returns
    the names that mismatch, each with the reason. The oracles run
    concurrently, one DuckDB connection each, with no more threads in
    all than ``nproc``."""
    norm = _mirror_norm(root)
    todo = [q for q in queries if q.name in results]  # failed executions are already counted
    nproc = len(os.sched_getaffinity(0))
    workers = max(1, min(len(todo), nproc))
    bad = {}
    with concurrent.futures.ThreadPoolExecutor(workers) as pool:
        futures = {q.name: pool.submit(_oracle, sf_dir, table, q.oracle, max(1, nproc // workers))
                   for q in todo}
        for q in todo:
            got = results[q.name]
            try:
                want = futures[q.name].result()
            except duckdb.Error as ex:
                bad[q.name] = f"oracle: {type(ex).__name__}: {ex}"[:200]
                continue
            if sorted(got.columns) != sorted(want.columns):
                bad[q.name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif len(got) != len(want):
                bad[q.name] = f"rows {len(got)} != {len(want)}"
            elif why := _dtype_mismatch(got, want):
                bad[q.name] = why
            elif _row_multiset(got, norm) != _row_multiset(want, norm):
                bad[q.name] = "values differ"
    return bad
