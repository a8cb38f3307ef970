"""Tests of the benchmark itself (not of the program):

    python3 -m pytest perfbench/tests -q

The input and gate tests need no Spark; the smoke runs start the
benchmark at its tiny size in a subprocess (about half a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import harness, spec, workloads
from perfbench.inputs import corpus_inputs, hier_report_inputs, table_inputs
from perfbench.reference import expect_rows, rows_hash

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

GENERATORS = {
    "hier_report": hier_report_inputs,
    "corpus_curation": corpus_inputs,
    "table_maintenance": table_inputs,
}


@pytest.mark.parametrize("name", workloads.NAMES)
def test_seed_determines_inputs(tmp_path, name):
    gen, size = GENERATORS[name], workloads.get(name).SIZES["tiny"]
    a = gen(str(tmp_path / "a"), 7, size).digest
    b = gen(str(tmp_path / "b"), 7, size).digest
    c = gen(str(tmp_path / "c"), 8, size).digest
    assert a == b
    assert a != c


def test_gate_rejects_a_perturbed_answer():
    right = [(1, "a", 10), (2, "b", 20)]
    want = rows_hash(right)
    expect_rows(list(reversed(right)), want, "order-insensitive")
    r = harness.Runner(None, trace=False)
    for rows in (right, [(1, "a", 10), (2, "b", 21)], right[:1]):
        r.op("t.read", "t", lambda rows=rows: rows, action=list,
             check=lambda got: expect_rows(got, want, "t.read"))
    assert [o.ok for o in r.ops] == [True, False, False]
    assert "wrong answer" in r.ops[1].error


def test_golden_check_rejects_a_perturbed_row():
    from aggregation_duckdb_spark.reference_fixtures import GOLDEN_AGGREGATE
    from perfbench.workloads.hier_report import _check_golden

    rows = [tuple(g) for g in GOLDEN_AGGREGATE]
    _check_golden(rows)
    bad = list(rows)
    bad[3] = bad[3][:7] + (bad[3][7] + 1,)
    with pytest.raises(harness.WrongAnswer):
        _check_golden(bad)


def test_failed_call_counts_as_failed_op():
    r = harness.Runner(None, trace=False)
    assert r.op("t.boom", "t", lambda: 1 / 0) is None
    assert not r.ops[0].ok and "ZeroDivisionError" in r.ops[0].error


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    value, pct = harness.tail(xs)
    assert value == 89.0 and sum(x > value for x in xs) == 10
    assert pct == 90.0
    assert harness.tail([3.0, 1.0])[0] == 3.0
    few = [float(i) for i in range(12)]
    assert harness.tail(few)[0] == harness.median(few[:11])   # not below


def test_self_time_subtracts_children():
    s = [harness.Span("op", "layout", 0.0, 1, None, end=10.0),
         harness.Span("fsio.rename", "fsio", 1.0, 1, 0, end=4.0),
         harness.Span("fsio.write", "fsio", 5.0, 1, 0, end=6.0)]
    assert harness.self_times(s) == [6.0, 3.0, 1.0]


def test_tree_cpu_counts_reaped_children():
    before = harness._tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"],
                   check=True)
    assert harness._tree_cpu_s(os.getpid()) - before >= 0.25


def test_speed_probe_samples_and_stops():
    with harness.SpeedProbe() as probe:
        t0 = time.monotonic()
        time.sleep(1.5)
        loop_s, n = probe.loop_s(t0, time.monotonic())
    assert n >= 3 and loop_s > 0
    assert probe.proc.poll() is not None


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(workloads.NAMES)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == spec.per_layer()


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "0",
         "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("hier_report", 0), ("hier_report", 1), ("corpus_curation", 1),
    ("table_maintenance", 1)])
def test_tiny_run_emits_every_metric(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    want = spec.per_layer() if trace else spec.END_TO_END
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    assert all(isinstance(m["value"], float) for m in res["metrics"].values())
