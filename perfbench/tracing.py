"""Spans, Spark job groups and the event-log fold for the traced run.

A span times one call into the program from the benchmark's side and
tags every Spark job it starts with a job group named after the layer
(the module path, e.g. ``plans.pip_join``). Spans stay in memory and
are written as JSON lines when the run ends.

The event log (turned on only for the traced session, see
``EVENT_LOG_CONF``) is folded per job group into task counters:

    run_s              sum of Executor Run Time
    gc_s               sum of JVM GC Time
    sched_wait_s       sum of (task launch - stage submission): time
                       tasks waited for a free core
    shuffle_write_bytes, spill_bytes (memory + disk)
    py_sent_bytes      SQL metric "data sent to Python workers"
    py_run_s           SQL metric "time to run Python workers"
    task_failures      tasks that did not end in Success
"""

from __future__ import annotations

import contextlib
import json
import os
import time

FOLD_FIELDS = (
    "run_s",
    "gc_s",
    "sched_wait_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "py_sent_bytes",
    "py_run_s",
    "task_failures",
)

# one plain JSON-lines file per application
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_PY_SENT = "data sent to Python workers"
_PY_RUN = "time to run Python workers"


def layer_of(span: str) -> str:
    """``plans.pip_join.pip_join`` -> ``plans.pip_join``."""
    return span.rsplit(".", 1)[0] if span.count(".") >= 2 else span


class NullTracer:
    """Untraced runs: spans cost one no-op context manager."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def alias(self, job_group: str, layer: str) -> None:
        pass


class Tracer:
    """Spans kept in memory; each sets the Spark job group of its layer
    for the jobs started inside it and restores the outer one on exit."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.op_id = "setup"
        self.spans: list[dict] = []
        self.aliases: dict[str, str] = {}
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        layer = layer_of(name)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "layer": layer,
            "op": self.op_id,
            "parent": parent["name"] if parent else None,
        }
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", layer)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)

    def alias(self, job_group: str, layer: str) -> None:
        """Jobs tagged ``job_group`` by Spark itself (a streaming query
        tags its micro-batches with its run id) belong to ``layer``."""
        self.aliases[job_group] = layer

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def fold_event_log(lines, aliases: dict | None = None) -> dict:
    """Fold event-log JSON lines into {layer: {field: value}} keyed by
    the job group of each task's stage (mapped through ``aliases``)."""
    aliases = aliases or {}
    stage_group: dict = {}
    stage_submit: dict = {}
    out: dict = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[key] = aliases.get(group, group)
            stage_submit[key] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            group = stage_group.get(key)
            if group is None:
                continue
            acc = out.setdefault(group, dict.fromkeys(FOLD_FIELDS, 0.0))
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                acc["task_failures"] += 1
            acc["run_s"] += metrics.get("Executor Run Time", 0) / 1e3
            acc["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
            submitted = stage_submit.get(key)
            if submitted is not None and info.get("Launch Time"):
                acc["sched_wait_s"] += max(0, info["Launch Time"] - submitted) / 1e3
            acc["shuffle_write_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0
            )
            for a in info.get("Accumulables") or []:
                name = a.get("Name")
                if name == _PY_SENT:
                    acc["py_sent_bytes"] += float(a.get("Update") or 0)
                elif name == _PY_RUN:
                    acc["py_run_s"] += float(a.get("Update") or 0) / 1e3
    return out


def read_event_log(log_dir: str) -> list[str]:
    """All lines of every event-log file under ``log_dir``."""
    lines: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isfile(path):
            with open(path) as f:
                lines.extend(f)
    return lines
