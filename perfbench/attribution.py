"""Traced-run attribution: Spark's event log and a streaming listener,
reduced to one row per key and one row per layer.

The program is observed from outside. A key's work is every Spark job
*submitted* inside the key's timed window, so the micro-batch jobs a
streaming drain fires under Spark's own job group are attributed to the
key that drained the stream. Windows are wall-clock epoch milliseconds
taken in the benchmark process; Spark stamps events with the same clock.
"""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import json
import os

from pyspark.sql.streaming import StreamingQueryListener

# Counters read from the event log, per key.
SPARK_COUNTERS = (
    "jobs",
    "build_jobs",
    "tasks",
    "executor_cpu_s",
    "executor_wait_s",
    "gc_s",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "exchanges",
    "broadcast_joins",
    "sort_merge_joins",
    "python_nodes",
    "sql_executions",
)
# Counters of one key or one layer, in the order they are reported.
COUNTERS = ("build_s", "exec_s", *SPARK_COUNTERS, "failed")

# Streaming progress counters, summed over the micro-batches of a key.
STREAM_PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}
STREAM_COUNTERS = (*STREAM_PHASES, "batches", "input_rows", "state_rows", "state_commit_ms")

_SQL = "org.apache.spark.sql.execution.ui."


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session config that makes Spark write a plain-JSON event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


class ProgressRecorder(StreamingQueryListener):
    """Keeps every streaming progress report in memory.

    Each report is placed by the batch's own trigger timestamp, not by
    when the callback arrives: callbacks run on the listener bus and can
    land after the key's window has closed."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {
                "t_ms": _iso_ms(p.timestamp),
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _iso_ms(ts: str) -> int:
    t = dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return round(t.timestamp() * 1000)


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Every event of one finished application, in file order."""
    # Rolling logs are ``eventlog_v2_<app>/events_<n>_<app>``, in order of n.
    files = sorted(
        glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    files += glob.glob(os.path.join(log_dir, app_id))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class Windows:
    """Timed windows of one application: (start_ms, end_ms, key, phase),
    phase being ``build`` (inside the registered callable) or ``exec``
    (the ``noop`` write)."""

    def __init__(self, spans: list[tuple[int, int, str, str]]) -> None:
        self.spans = sorted(spans)
        self._starts = [s[0] for s in self.spans]

    def find(self, t_ms: int) -> tuple[str, str] | None:
        i = bisect.bisect_right(self._starts, t_ms) - 1
        if i >= 0 and t_ms <= self.spans[i][1]:
            return self.spans[i][2], self.spans[i][3]
        return None


def plan_shape(plan_info: dict) -> dict[str, int]:
    """Node counts of one physical plan tree (``sparkPlanInfo``)."""
    counts = dict.fromkeys(
        ("exchanges", "broadcast_joins", "sort_merge_joins", "python_nodes"), 0
    )
    stack = [plan_info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name == "Exchange":
            counts["exchanges"] += 1
        elif name.startswith("BroadcastHashJoin") or name.startswith(
            "BroadcastNestedLoopJoin"
        ):
            counts["broadcast_joins"] += 1
        elif name.startswith("SortMergeJoin"):
            counts["sort_merge_joins"] += 1
        elif "Python" in name or "Pandas" in name or "Arrow" in name:
            counts["python_nodes"] += 1
        stack.extend(node.get("children", ()))
    return counts


def reduce_events(events: list[dict], windows: Windows) -> dict[str, dict]:
    """Per-key Spark counters from one application's event log.

    Jobs and SQL executions belong to the window their start time falls
    in; tasks follow their stage's job. Work outside every window (set-up,
    oracle checks) is dropped. Plan shape is read from the final adaptive
    plan of each SQL execution."""
    rows: dict[str, dict] = {}
    stage_key: dict[int, str] = {}
    sql_key: dict[str, str] = {}
    final_plan: dict[str, dict] = {}

    def row(key: str) -> dict:
        return rows.setdefault(key, dict.fromkeys(SPARK_COUNTERS, 0))

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            hit = windows.find(e["Submission Time"])
            if hit:
                key, phase = hit
                r = row(key)
                r["jobs"] += 1
                r["build_jobs"] += phase == "build"
                for sid in e["Stage IDs"]:
                    stage_key[sid] = key
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if key is None or not m:
                continue
            r = row(key)
            run_s = m["Executor Run Time"] / 1e3
            cpu_s = m["Executor CPU Time"] / 1e9
            r["tasks"] += 1
            r["executor_cpu_s"] += cpu_s
            r["executor_wait_s"] += max(run_s - cpu_s, 0.0)
            r["gc_s"] += m["JVM GC Time"] / 1e3
            r["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            r["output_bytes"] += m["Output Metrics"]["Bytes Written"]
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            hit = windows.find(int(e["time"]))
            if hit:
                sql_key[str(e["executionId"])] = hit[0]
                row(hit[0])["sql_executions"] += 1
                final_plan[str(e["executionId"])] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            eid = str(e["executionId"])
            if eid in sql_key:
                final_plan[eid] = e["sparkPlanInfo"]
    for eid, key in sql_key.items():
        for name, n in plan_shape(final_plan[eid]).items():
            rows[key][name] += n
    return rows


def reduce_progress(batches: list[dict], windows: Windows) -> dict[str, dict]:
    """Per-key streaming counters from the listener's progress reports."""
    rows: dict[str, dict] = {}
    for b in batches:
        hit = windows.find(b["t_ms"])
        if not hit:
            continue
        r = rows.setdefault(hit[0], dict.fromkeys(STREAM_COUNTERS, 0))
        for name, phase in STREAM_PHASES.items():
            r[name] += b["duration_ms"].get(phase, 0)
        r["batches"] += 1
        r["input_rows"] += b["input_rows"]
        r["state_rows"] += b["state_rows"]
        r["state_commit_ms"] += b["state_commit_ms"]
    return rows
