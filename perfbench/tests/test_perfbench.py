"""Tests of the benchmark itself.

The first group is pure Python.  The second starts real runs at sf0.001
through ``perfbench/run.py`` (one JVM each, about a minute per run).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import subprocess
import sys
from decimal import Decimal

import pytest

from perfbench import check, datagen
from perfbench.workloads import tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")

NAMED = {
    "analytics": ["analytics.round_s", "analytics.relational_s",
                  "analytics.pipeline_s", "analytics.queries_per_s"],
    "cdc_mirror": ["cdc.apply_p50_s", "cdc.apply_tail_s",
                   "cdc.freshness_p50_s", "cdc.changes_per_s"],
    "sql_session": ["sql.read_p50_s", "sql.read_tail_s",
                    "sql.write_p50_s", "sql.report_s", "sql.stmts_per_s"],
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ pure Python

ROWS = [(1, "a", 1.5, Decimal("2.10"), dt.datetime(2024, 1, 1)),
        (2, "b", 0.1 + 0.2, Decimal("3.00"), None)]
COLS = ["k", "s", "f", "d", "ts"]


def test_check_accepts_reordered_rows_columns_and_float_noise():
    want = [(r[1], r[0], 0.3 if r[0] == 2 else r[2], float(r[3]), r[4])
            for r in reversed(ROWS)]
    assert check.compare_rows("t", COLS, ROWS, ["s", "k", "f", "d", "ts"], want) == []


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows[1:],                                    # lost row
    lambda rows: rows + rows[:1],                             # duplicated row
    lambda rows: [(1, "a", 1.5001, *ROWS[0][3:])] + rows[1:],  # changed value
    lambda rows: [(1, "A", *ROWS[0][2:])] + rows[1:],          # changed string
])
def test_check_trips_on_corrupted_rows(corrupt):
    assert check.compare_rows("t", COLS, corrupt(list(ROWS)), COLS, ROWS)


def test_check_trips_on_renamed_column():
    assert check.compare_rows("t", ["k", "s", "f", "d", "x"], ROWS, COLS, ROWS)


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_datagen_is_a_function_of_the_seed():
    a, b = datagen.generate(5, 0.001), datagen.generate(5, 0.001)
    c = datagen.generate(6, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["orders"].equals(c["orders"])


def test_write_amplification_counts_only_writing_ops():
    from types import SimpleNamespace

    from perfbench import harness, trace

    proc = SimpleNamespace(pid=os.getpid())
    ctx = SimpleNamespace(
        tracer=trace.Tracer(),
        spark=SimpleNamespace(sparkContext=SimpleNamespace(
            _gateway=SimpleNamespace(proc=proc))),
    )
    write = {"storage.files_added": 1.0,
             harness.BYTES_ADDED: 600.0, harness.CHANGE_BYTES: 200.0}
    read = {"storage.files_added": 0.0}
    m = harness.layer_metrics(ctx, [None] * 4, [], [write, read, read, read])
    assert m["storage.bytes_written_per_change_byte"] == 3.0
    assert m["storage.files_added"] == 0.25


def test_spec_lists_every_reported_metric():
    from perfbench.harness import E2E, PER_LAYER

    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(NAMED)


# ----------------------------------------------------------- real runs


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, RUN, "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    spec = _spec()
    rc, lines = _run("--workload", workload, "--sf", "0.001", "--trace", "0")
    assert rc == 0, lines[-5:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    table = "\n".join(lines[:-1])
    for name in NAMED[workload]:
        assert re.search(rf"^\s+{re.escape(name)}\s+\S+\s+(s|1/s)\b", table, re.M), name
    assert re.search(rf"^{workload}: failed 0 / attempted \d+", table, re.M)


def test_tiny_traced_run_prints_every_layer_metric():
    spec = _spec()
    rc, lines = _run("--workload", "cdc_mirror", "--sf", "0.001", "--trace", "1")
    assert rc == 0, lines[-5:]
    result = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["engine.apply_s"] > m["engine.apply_self_s"] > 0
    assert m["views.refresh_s"] > 0 and m["exports.sync_s"] > 0
    assert m["spark.jobs"] >= 1 and m["sql_router.py4j_calls"] > 0
    assert "layer self time per traced op" in "\n".join(lines)


def test_tiny_traced_session_measures_the_query_layer():
    rc, lines = _run("--workload", "sql_session", "--sf", "0.001", "--trace", "1")
    assert rc == 0, lines[-5:]
    m = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    assert m["queries.build_s"] > 0 and m["queries.py4j_calls"] > 0
    assert m["catalyst.analysis_s"] > 0 and m["sql_router.build_s"] > 0
    assert m["storage.bytes_written_per_change_byte"] > 0
    assert m["views.refresh_s"] == 0 and m["exports.sync_s"] == 0


def test_corrupted_result_trips_the_check():
    rc, lines = _run("--workload", "sql_session", "--sf", "0.001", "--corrupt")
    assert rc == 1
    result = json.loads(lines[-1])
    assert result["correct"] is False and result["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_session",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
