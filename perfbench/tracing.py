"""Per-layer tracing for the benchmark, recorded from outside the program.

A ``Tracer`` keeps spans in memory (name, start, end, parent, op id)
and tags every Spark job started inside a span with the span's id as
its job group. After the session stops, ``EventLog`` reads the
uncompressed Spark event log and sums task metrics per job group, so
each span gets the jobs, stages, tasks, CPU, shuffle and spill it
caused. py4j round trips are counted by wrapping the gateway client's
``send_command``.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"
EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


class Tracer:
    """Spans plus a py4j call counter for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._client = client

    def close(self) -> None:
        """Restore the gateway client's own ``send_command``."""
        del self._client.send_command

    @contextmanager
    def span(self, name: str, op: int, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": op, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext
        sc.setLocalProperty(JOB_GROUP, str(rec["id"]))
        calls = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - calls
            self._stack.pop()
            sc.setLocalProperty(JOB_GROUP, str(parent) if parent is not None else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning ms of ``df``'s own query
    execution (planning is forced here, outside any timed span)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            total += summary.get().durationMs()
    return total


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDD blocks, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() + info.diskSize() for info in infos)


class EventLog:
    """Task metrics summed per job group from an uncompressed event log."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_records")

    def __init__(self, log_dir: str):
        self.groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(self.FIELDS, 0))
        self.failed_tasks = 0
        stage_group: dict[int, str] = {}
        # Spark 4 writes a rolling log: a directory of events_<n>_<app>
        # files, next to status markers and checksums.
        for root, _, names in os.walk(log_dir):
            parts = sorted((int(n.split("_")[1]), n) for n in names if n.startswith("events_"))
            for _, name in parts:
                with open(os.path.join(root, name)) as f:
                    for line in f:
                        self._event(json.loads(line), stage_group)

    def _event(self, ev: dict, stage_group: dict[int, str]) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            if group is not None:
                self.groups[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                self.groups[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            failed = ev.get("Task End Reason", {}).get("Reason") != "Success"
            self.failed_tasks += failed
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                return
            g = self.groups[group]
            m = ev.get("Task Metrics") or {}
            shuffle_read = m.get("Shuffle Read Metrics", {})
            g["tasks"] += 1
            g["failed_tasks"] += failed
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["shuffle_read_bytes"] += (shuffle_read.get("Remote Bytes Read", 0)
                                        + shuffle_read.get("Local Bytes Read", 0))
            g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            # Rows, not bytes: Spark 4 reports only a few KB of "Bytes Read"
            # for a Parquet scan of a whole table.
            g["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)

    def totals(self, span_ids) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0)
        for sid in span_ids:
            for k, v in self.groups.get(str(sid), {}).items():
                out[k] += v
        return out
