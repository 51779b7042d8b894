"""Spans for the traced run, and the Spark event-log fold that fills
their counters.

A span wraps one call into one layer of the program from outside. Its
name is ``<layer>.<function>``. Every Spark job the call launches is
tagged with the span's id through ``setJobGroup``, so after the session
stops, the event log (uncompressed, in a directory the benchmark owns)
gives each span its stage and task metrics:

- ``wall_s``: measured around the call;
- ``executor_run_s``: summed task run time;
- ``fetch_wait_s``: summed shuffle-fetch wait;
- ``shuffle_write_bytes``, ``spill_bytes``, ``bytes_read``,
  ``records_read``, ``bytes_written``;
- ``failed_tasks``: task attempts that did not end in success;
- ``jobs``: jobs launched;
- ``broadcast_joins``: BroadcastHashJoin nodes in the final adaptive
  plans of the span's SQL executions;
- ``join_output_rows``: rows out of the join nodes of those plans.

Spans live in memory until the run writes them out.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session confs that turn on a readable event log. The default
    codec has no Python reader here, so compression is off."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def plan_phases_s(df) -> float:
    """Analysis + optimization + planning seconds of ``df``'s own
    QueryExecution, forcing its physical plan (the tracker phases)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


class Tracer:
    """Collects spans. ``counts`` are set by the caller inside the span
    (rows, files, ...); the event-log counters are added by ``fold``."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._op = None

    def start_op(self, op: str) -> None:
        self._op = op

    @contextmanager
    def span(self, name: str):
        """Time the block and tag its jobs; before a session exists
        (the session start itself) there is nothing to tag."""
        rec = {"id": f"span-{len(self.spans)}", "name": name, "op": self._op, "counts": {}}
        self.spans.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if sc is not None:
                sc.setJobGroup("untraced", "between spans")

    def fold(self, log_dir: str) -> None:
        """Attach event-log counters to every span. Call after the
        session has stopped, so the log is complete."""
        per = fold_event_log(read_event_log(log_dir))
        for s in self.spans:
            s.update(per.get(s["id"], empty_counters()))


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single, non-rolling) logs in ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def empty_counters() -> dict:
    return {
        "executor_run_s": 0.0,
        "fetch_wait_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "bytes_read": 0,
        "records_read": 0,
        "bytes_written": 0,
        "failed_tasks": 0,
        "jobs": 0,
        "broadcast_joins": 0,
        "join_output_rows": 0,
    }


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


def fold_event_log(events: list[dict]) -> dict[str, dict]:
    """Per job-group counters from a parsed event log."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    acc_total: dict[int, int] = defaultdict(int)
    out: dict[str, dict] = defaultdict(empty_counters)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g:
                out[g]["jobs"] += 1
                xid = props.get("spark.sql.execution.id")
                if xid is not None:
                    exec_group.setdefault(int(xid), g)
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            info = e.get("Task Info") or {}
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql" and not info.get("Failed"):
                    try:
                        acc_total[acc["ID"]] += int(acc["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
            if g is None:
                continue
            c = out[g]
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                c["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000.0
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            c["bytes_read"] += inp.get("Bytes Read", 0)
            c["records_read"] += inp.get("Records Read", 0)
            c["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            final_plan[e["executionId"]] = e.get("sparkPlanInfo") or {}
    for xid, plan in final_plan.items():
        g = exec_group.get(xid)
        if g is None:
            continue
        for node in _plan_nodes(plan):
            name = node.get("nodeName", "")
            if name == "BroadcastHashJoin":
                out[g]["broadcast_joins"] += 1
            if "Join" in name:
                for m in node.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        out[g]["join_output_rows"] += acc_total.get(m["accumulatorId"], 0)
    return dict(out)
