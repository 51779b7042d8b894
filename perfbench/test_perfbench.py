"""The benchmark's own tests: generator determinism, a tiny-size smoke
run of every workload (timed and traced), the refusal to run without
the program, and the pure helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

import gen
import run
from spans import fold_event_log
from workloads import PARAMS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_cache", "test")
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


@pytest.fixture
def scratch():
    d = os.path.join(SCRATCH, str(os.getpid()))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("workload", sorted(PARAMS))
def test_generator_is_byte_identical_per_seed(scratch, workload):
    p = PARAMS[workload]["tiny"]
    a = gen.ensure_inputs(os.path.join(scratch, "a"), workload, p, 7)
    b = gen.ensure_inputs(os.path.join(scratch, "b"), workload, p, 7)
    c = gen.ensure_inputs(os.path.join(scratch, "c"), workload, p, 8)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)
    meta = json.load(open(os.path.join(a, "meta.json")))
    assert meta["seed"] == 7 and meta["params"] == p


def test_planted_pairs_are_real_copies(scratch):
    import pyarrow.parquet as pq

    src = gen.ensure_inputs(scratch, "neardup_curation", PARAMS["neardup_curation"]["tiny"], 3)
    planted = json.load(open(os.path.join(src, "planted.json")))
    t = pq.read_table(os.path.join(src, "documents.parquet"), columns=["doc_id", "text"]).to_pydict()
    docs = dict(zip(t["doc_id"], t["text"]))
    for a, b in planted["doc_near_pairs"]:
        ta, tb = docs[a].split(), docs[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) == 1
    assert planted["vec_near_pairs"]


def _session_members(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[3]) == sid:
                        out.append(int(d))
            except (OSError, ValueError, IndexError):
                continue
    return out


def _bench(args, cwd=ROOT, timeout=300):
    """Run the benchmark in a session of its own and check that no
    process of that session outlives it."""
    # files, not pipes: a process left holding a pipe would delay EOF
    # until it ended, and so hide itself
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        p = subprocess.Popen(
            [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
            cwd=cwd, stdout=out, stderr=err, text=True, start_new_session=True,
        )
        p.wait(timeout=timeout)
        left = _session_members(p.pid)
        out.seek(0)
        err.seek(0)
        r = subprocess.CompletedProcess(p.args, p.returncode, out.read(), err.read())
    assert left == [], "the benchmark left a process running"
    return r


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run(workload, trace):
    r = _bench(["--workload", workload, "--seed", "5", "--seconds", "2",
                "--trace", str(trace), "--scale", "tiny"])
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 2
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(out["metrics"][m["name"]]["value"], (int, float))


def test_refuses_without_the_program(scratch):
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(scratch, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
    r = _bench(["--workload", "etl_live", "--seed", "1", "--seconds", "1", "--trace", "0"],
               cwd=scratch, timeout=60)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


def test_tail_is_highest_percentile_with_ten_beyond():
    assert run.tail([1.0] * 10)["value"] is None
    t = run.tail([float(i) for i in range(1, 21)])  # 20 samples
    assert t["value"] == 10.0 and t["percentile"] == 50.0 and t["samples"] == 20


def test_fold_attributes_tasks_to_their_span():
    ok = {"Reason": "Success"}
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "span-0",
                                                          "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "span-0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": ok,
         "Task Info": {"Accumulables": [{"ID": 9, "Update": "40", "Metadata": "sql"}]},
         "Task Metrics": {"Executor Run Time": 1500,
                          "Shuffle Read Metrics": {"Fetch Wait Time": 250},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6,
                          "Input Metrics": {"Bytes Read": 7, "Records Read": 8}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Failed": True}, "Task Metrics": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 3, "sparkPlanInfo": {"nodeName": "BroadcastHashJoin", "children": [],
                                             "metrics": [{"name": "number of output rows",
                                                          "accumulatorId": 9}]}},
    ]
    c = fold_event_log(events)["span-0"]
    assert c["jobs"] == 1 and c["failed_tasks"] == 1
    assert c["executor_run_s"] == 1.5 and c["fetch_wait_s"] == 0.25
    assert c["shuffle_write_bytes"] == 100 and c["spill_bytes"] == 11
    assert c["bytes_read"] == 7 and c["records_read"] == 8
    assert c["broadcast_joins"] == 1 and c["join_output_rows"] == 40
