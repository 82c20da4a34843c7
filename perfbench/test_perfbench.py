"""Tests of the benchmark itself: seeded inputs, tracer hygiene, and a
small end-to-end smoke run of each workload in the benchmark's contract.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start a JVM each (about a minute together).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import harness  # noqa: E402

harness.require_program()

import tracing  # noqa: E402
import workloads  # noqa: E402

SMOKE_SF = 0.001
CONTRACT = json.loads((harness.ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def data_dir() -> str:
    return datagen.ensure(str(harness.STATE / "data"), SMOKE_SF)


def _inputs(wl: workloads.Workload) -> list:
    return [[[(c.tool, c.args, c.label) for c in batch] for batch in client] for client in wl.batches]


@pytest.mark.parametrize("name", workloads.NAMES)
def test_same_seed_same_inputs(name, data_dir):
    a = workloads.build(name, 7, data_dir, SMOKE_SF, 3)
    b = workloads.build(name, 7, data_dir, SMOKE_SF, 3)
    assert _inputs(a) == _inputs(b)


def test_other_seed_other_literals(data_dir):
    a = workloads.build("explore_ch", 7, data_dir, SMOKE_SF, 2)
    b = workloads.build("explore_ch", 8, data_dir, SMOKE_SF, 2)
    queries = lambda wl: [c.args.get("query") for s in wl.batches[0] for c in s]  # noqa: E731
    assert queries(a) != queries(b)
    # the mix of tools stays the same, only literals and order move
    tools = lambda wl: sorted(c.tool for s in wl.batches[0] for c in s)  # noqa: E731
    assert tools(a) == tools(b)


def test_other_seed_other_order(data_dir):
    a = workloads.build("pipeline_batch", 7, data_dir, SMOKE_SF, 3)
    b = workloads.build("pipeline_batch", 8, data_dir, SMOKE_SF, 3)
    assert _inputs(a) != _inputs(b)
    assert sorted(c.label for c in a.batches[0][0]) == sorted(c.label for c in b.batches[0][0])


def test_datagen_is_deterministic():
    a, b = datagen.tables(SMOKE_SF), datagen.tables(SMOKE_SF)
    assert all(a[n].equals(b[n]) for n in workloads.TABLES)


def test_wrappers_are_removed():
    from mcp_clickhouse_spark import dialect, tools
    from pyspark.sql.classic.dataframe import DataFrame

    class Session:
        def sql(self, query):
            return query

    before = (tools.check_read_only, dialect.translate, DataFrame.collect, tools.run_with_timeout)
    tracer = tracing.Tracer()
    tracing.install_setup(tracer)
    tracing.install_call_path(tracer, Session())
    assert len(tracing.installed(Session())) > 10
    tracer.uninstall()
    assert tracing.installed(Session()) == []
    assert (tools.check_read_only, dialect.translate, DataFrame.collect, tools.run_with_timeout) == before
    assert "sql" in Session.__dict__


def test_translate_times_outermost_call_only():
    from mcp_clickhouse_spark import dialect

    tracer = tracing.Tracer()
    tracer.wrap(dialect, "translate", "dialect.translate", outermost_only=True)
    try:
        dialect.translate("SELECT toString(toString(toString(1))) AS x")
    finally:
        tracer.uninstall()
    _, _, count = tracer.totals()
    assert count["dialect.translate"] == 1
    assert tracer.nested["dialect.translate"] >= 1


def _smoke(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", str(SMOKE_SF)],
        cwd=harness.ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.mark.parametrize(
    "workload, trace, kind",
    [("pipeline_batch", 0, "end_to_end"), ("explore_ch", 1, "per_layer")],
)
def test_smoke_run(workload, trace, kind):
    result, stdout = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in CONTRACT[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    # the summary line carries every end-to-end metric, error_rate included
    for m in CONTRACT["end_to_end"]:
        assert f"{m['name']}=" in stdout
    assert "error_rate=0 " in stdout
