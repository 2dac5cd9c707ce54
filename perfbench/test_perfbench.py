"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The smoke tests run ``run.py`` end to end on shrunken inputs (about a
minute each); the rest need no JVM or one small session.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from salesgen import HEADER, SalesGenerator, write_csv  # noqa: E402
from tracing import (  # noqa: E402
    Job, Span, StageTotals, attribute, read_event_log, stolen_share,
    unattributed_frac, union_s)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    if trace:
        assert out["metrics"]["error_rate"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_generator_counts_what_it_writes(tmp_path):
    gen = SalesGenerator(3, addresses=60)
    lines, exp = gen.month(500, dt.date(2019, 1, 1))
    assert exp.landing == len(lines)
    assert lines.count(HEADER) == exp.invalid["cast_failure"] - 3
    assert lines.count(",,,,,") == exp.invalid["null_required_field"]
    assert exp.cleansed == 500 and exp.days == 32
    # one product changed price mid-month and sold at both prices
    assert exp.products == len(gen.versions)
    assert sorted(Counter(p for p, _ in gen.versions).values())[-1] == 2
    assert sum(line.startswith(",") and line != ",,,,," for line in lines) >= 1
    assert any(", Portland, OR " in line for line in lines)
    assert any(", Portland, ME " in line for line in lines)
    assert write_csv(str(tmp_path / "m.csv"), lines) > 0
    # a drop with a price change sells its product at the new price
    before = len(gen.versions)
    _, d = gen.drop(200, dt.date(2019, 2, 2), 5, True)
    assert d.locations >= 5 and len(gen.versions) > before
    assert sorted(Counter(p for p, _ in gen.versions).values())[-1] >= 2


def test_union_and_attribution():
    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_s([(0, 2)], 1, 10) == 1
    outer = Span(1, "op", None, "r", start=10.0, end=20.0, wall_s=10.0)
    inner = Span(2, "read", 1, "r", start=12.0, end=14.0, wall_s=2.0)
    jobs = [
        Job(0, 12_500, 13_000, "bench:2:read", [0], totals=StageTotals(tasks=4)),
        Job(1, 15_000, 16_000, "etl: write fact", [1]),
        Job(2, 30_000, 31_000, "", [2]),
    ]
    layers, orphans = attribute([outer, inner], jobs)
    assert [j.id for j in layers[2].jobs] == [0]
    assert [j.id for j in layers[1].jobs] == [1]
    assert [j.id for j in orphans] == [2]
    assert layers[2].totals.tasks == 4 and layers[2].outside_s == 0


def test_steal_is_taken_out_of_durations():
    # (stolen, busy) ticks: no steal, then a quarter of wanted time stolen
    assert stolen_share((10, 100), (10, 180)) == 0
    assert stolen_share((10, 100), (30, 160)) == 0.25
    span = Span(1, "op", None, "r", start=0.0, wall_s=8.0, stolen_frac=0.25)
    assert span.effective_s == 6.0


def test_unreconciled_trace_is_a_failure():
    from run import reconcile
    from workloads import Ops

    op = Span(1, "op", None, "r", start=10.0, end=20.0, wall_s=10.0)
    jobs = [Job(0, 11_000, 12_000, "bench:1:op", [0]),
            Job(1, 30_000, 31_000, "", [1])]
    layers, orphans = attribute([op], jobs)
    lost = unattributed_frac(jobs, layers, orphans)
    assert lost == 0.5
    ops = Ops()
    ops.record(reconcile(0.02, 0.0), "reconciled")
    ops.record(reconcile(0.02, lost), "unattributed")
    ops.record(reconcile(0.5, 0.0), "overhead")
    assert (ops.attempted, ops.failed) == (3, 2)
    assert [p.split(":")[0] for p in ops.problems] == [
        "unattributed", "overhead"]


def test_event_log_reader(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "bench:1:x"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Failed": True},
         "Task Metrics": {"Executor Run Time": 5, "Executor CPU Time": 2e6,
                          "JVM GC Time": 1, "Disk Bytes Spilled": 7,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 9},
                          "Output Metrics": {"Bytes Written": 11}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500,
         "Job Result": {"Result": "JobSucceeded"}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(map(json.dumps, events)) + "\n")
    (job,) = read_event_log(str(path))
    t = job.totals
    assert (job.description, job.end_ms, t.tasks, t.failed_tasks) == (
        "bench:1:x", 1500, 1, 1)
    assert (t.run_ms, t.cpu_ms, t.gc_ms, t.spill_bytes) == (5, 2.0, 1, 7)
    assert (t.shuffle_write_bytes, t.bytes_written) == (9, 11)


def test_wrong_expected_count_is_a_failure(tmp_path):
    from run import start_session, stop_jvm
    from workloads import Ops, check_etl

    from sales_data_warehouse_spark import run_etl

    gen = SalesGenerator(5, addresses=30)
    lines, exp = gen.month(300, dt.date(2019, 1, 1))
    csv = str(tmp_path / "m.csv")
    write_csv(csv, lines)
    os.makedirs(tmp_path / "tmp")
    spark = start_session(str(tmp_path), 2)
    try:
        res = run_etl(spark, csv, output_dir=str(tmp_path / "wh"))
        ops = Ops()
        ops.record(check_etl(res, exp), "right")
        exp.cleansed += 1
        ops.record(check_etl(res, exp), "wrong")
    finally:
        spark.stop()
        stop_jvm()
    assert (ops.attempted, ops.failed) == (2, 1)
    assert ops.problems[0].startswith("wrong: cleansed 300 != 301")
