"""The benchmark's own tests: the event-log reader on a small canned log,
the smoke mode over every workload (those in BENCHMARK.json and the
delete-routed one kept out of it), and the refusal to run without the
program under test.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke test starts one Spark session per workload and trace mode,
so it takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.eventlog import EventLog, covered, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_eventlog_group_metrics():
    log = EventLog.read(os.path.join(HERE, "testdata", "eventlog.jsonl"))
    assert sorted(log.groups()) == ["call-1", "prefix scan 0"]
    m = log.group_metrics("call-1")
    assert (m["jobs"], m["stages"], m["tasks"], m["task_failures"]) == (1, 2, 4, 1)
    assert m["executor_run_s"] == pytest.approx(0.65)
    assert m["executor_cpu_s"] == pytest.approx(0.5)
    assert m["jvm_gc_s"] == pytest.approx(0.02)
    # duration - run - deserialize - result serialisation, per task
    assert m["scheduler_delay_s"] == pytest.approx((50 + 40 + 25 + 70) / 1e3)
    assert m["shuffle_write_bytes"] == 8000
    assert m["shuffle_records"] == 160
    assert m["shuffle_read_bytes"] == 8000
    assert m["shuffle_fetch_wait_s"] == pytest.approx(0.012)
    assert m["python_total_s"] == pytest.approx(0.4)
    assert m["python_boot_s"] == pytest.approx(0.03)
    assert m["python_init_s"] == 0
    assert m["python_bytes_sent"] == 6144
    assert m["python_bytes_received"] == 512
    other = log.group_metrics("prefix scan 0")
    assert (other["jobs"], other["tasks"], other["shuffle_write_bytes"]) == (1, 1, 0)


def test_eventlog_spans_and_self_times():
    log = EventLog.read(os.path.join(HERE, "testdata", "eventlog.jsonl"))
    root = {"id": "call-1", "parent": None, "level": "root",
            "start": 999.9, "end": 1000.7}
    spans = [root, *log.spans("call-1", "call-1")]
    assert [s["level"] for s in spans].count("task") == 4
    own = self_times(spans)
    assert own["call-1"] == pytest.approx(0.8 - 0.65)
    assert own["call-1/job0"] == pytest.approx(0.65 - (0.415 + 0.215))
    assert own["call-1/job0/stage0"] == pytest.approx(0.415 - 0.4)
    assert covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)


def _run(cwd, workload, trace):
    return subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in spec)
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, BENCH["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
