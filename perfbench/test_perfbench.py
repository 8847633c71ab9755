"""Self-tests of the benchmark: seeded inputs, the oracle gate, the
metric names the runner prints, exact repeat of its counts, and the
refusal to run without the package.

    python3 -m pytest perfbench -q

The runner tests start Spark at the tiny input size, a few seconds of
measurement each (about three minutes in all on a 4-vCPU machine).
"""

from __future__ import annotations

import collections
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _write(tmp_path, name, seed):
    d = tmp_path / name
    w = workloads.WORKLOADS["behavioral"]
    w.generate(seed, "tiny", str(d), 3)
    workloads.WORKLOADS["dedup_pipeline"].generate(seed, "tiny", str(d), 3)
    return {
        p.relative_to(d).as_posix(): p.read_bytes()
        for p in sorted(d.rglob("*.parquet")) if p.is_file()
    }


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = _write(tmp_path, "a", 5), _write(tmp_path, "b", 5), _write(tmp_path, "c", 6)
    assert len(a) == 6  # 3 files per table
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_events_keep_schema_and_distinct_user_timestamps():
    t = gen.events_table(3, 5_000, 100)
    assert t.schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    pairs = list(zip(t.column("user_id").to_pylist(), t.column("ts").to_pylist()))
    assert len(set(pairs)) == len(pairs)
    prof = gen.events_profile(t)
    assert prof["events"] == 5_000 and prof["users"] == 100
    assert prof["events_per_user_p99"] > 3 * prof["events_per_user_p50"]  # heavy tail


def test_documents_plant_near_duplicates():
    t = gen.documents_table(3, 500)
    assert set(t.column("lang").to_pylist()) == set(gen.LANGS)
    assert len(set(t.column("source").to_pylist())) == gen.N_SOURCES
    # a copy is its base plus trailing "dup" words; random documents never repeat
    bases = collections.Counter(re.sub(r"( dup)+$", "", x) for x in t.column("text").to_pylist())
    in_cluster = sum(c for c in bases.values() if c > 1)
    assert abs(in_cluster / t.num_rows - gen.DUP_RATE) < 0.01


def test_gate_flags_a_changed_result(tmp_path):
    import duckdb

    import gate

    from duckdb_behavioral_spark.registry import all_oracles

    sf = str(tmp_path)
    workloads.WORKLOADS["behavioral"].generate(4, "tiny", sf, 3)
    q = workloads.Query("q2_retention", "operators", None, all_oracles()["q2_retention"])
    with duckdb.connect() as con:
        workloads.duckdb_views(con, sf, "events")
        want = con.execute(q.oracle).df()
    assert gate.check(ROOT, sf, "events", {q.name: want}, [q]) == {}
    changed = want.copy()
    changed.loc[0, "r0"] = not changed.loc[0, "r0"]
    assert gate.check(ROOT, sf, "events", {q.name: changed}, [q]) == {q.name: "values differ"}
    # the same values as strings: equal once normalized, but another type
    cast = want.astype({"r0": str})
    assert gate.check(ROOT, sf, "events", {q.name: cast}, [q]) == {
        q.name: f"dtype[r0] object != {want['r0'].dtype}"}


def _run(workload, trace, seed=7, cwd=ROOT):
    out = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    return out


_RUNS: dict = {}


def _result(workload, trace, attempt=0):
    key = (workload, trace, attempt)
    if key not in _RUNS:
        out = _run(workload, trace)
        assert out.returncode == 0, out.stderr[-3000:]
        _RUNS[key] = json.loads(out.stdout.strip().splitlines()[-1])
    return _RUNS[key]


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_is_correct_and_prints_declared_metrics(workload):
    declared = {w["name"] for w in SPEC["workloads"]}
    assert workload in declared
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        r = _result(workload, trace)
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        assert {k: v["unit"] for k, v in r["metrics"].items()} == want


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_counts_repeat_exactly_for_one_seed(workload):
    counts = [m["name"] for m in SPEC["per_layer"] if m["unit"] == "count"]
    a, b = _result(workload, 1, 0), _result(workload, 1, 1)
    assert {k: a["metrics"][k]["value"] for k in counts} == {
        k: b["metrics"][k]["value"] for k in counts}


_BROKEN = """
import sys
sys.path.insert(0, "perfbench")
import run, workloads

def broken(spark, sf_dir):
    raise RuntimeError("broken query")

workloads.Workload.queries = lambda self: [
    workloads.Query("broken", "operators", broken, "SELECT 1 AS x")]
sys.exit(run.main(sys.argv[1:]))
"""


def test_reports_a_verdict_when_every_query_fails():
    out = subprocess.run(
        [sys.executable, "-c", _BROKEN, "--workload", "dedup_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    r = json.loads(out.stdout.strip().splitlines()[-1])
    assert (r["correct"], r["attempted"], r["failed"]) == (False, 1, 1)
    assert "fail_share 1 share" in out.stdout


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run("behavioral", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
