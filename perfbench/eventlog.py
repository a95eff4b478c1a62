"""Fold a Spark event log into per-span metrics (stdlib only).

Reads the uncompressed log Spark writes with ``spark.eventLog.enabled``
and ``spark.eventLog.compress=false`` — a rolling v2 directory
(``eventlog_v2_*/events_<n>_*``) — and attributes every
job, SQL execution, task and SQL-node metric to a benchmark span.

Attribution: a job or SQL execution belongs to the span whose id is its
job description (set with ``SparkContext.setJobDescription``).  Spark
only copies that thread-local property to jobs submitted from the same
thread, so work the program submits from its own threads (the crawl's
concurrent checkpoint writes) carries no description; it goes to the
innermost span open at its start time.  Spans are strictly sequential
(one client, one job at a time), so this is unambiguous.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."
_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")


def node_kind(name: str) -> str:
    """SQL node name → kind: ``WholeStageCodegen (3)`` → ``WholeStageCodegen``,
    ``Scan parquet`` → ``Scan``, insert commands → ``WriteCommand``."""
    name = name.strip()
    if name.startswith("WholeStageCodegen"):
        return "WholeStageCodegen"
    if name.startswith("Scan "):
        return "Scan"
    if name.startswith("Execute ") and "Insert" in name:
        return "WriteCommand"
    return name


def log_files(path: str) -> list[str]:
    """Event files of the one application logged under ``path``, in
    rolling order."""
    found = glob.glob(os.path.join(path, "eventlog_v2_*", "events_*"))

    def index(p):
        return int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1))

    return sorted(found, key=index)


def read_events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


class Spans:
    """Benchmark spans: (id, name, parent, start_ms, end_ms)."""

    def __init__(self, spans: list[dict]):
        self.by_id = {s["id"]: s for s in spans}
        self.spans = sorted(spans, key=lambda s: s["start_ms"])

    def at(self, t_ms: float) -> str | None:
        """Innermost span open at ``t_ms``."""
        best = None
        for s in self.spans:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        return best["id"] if best else None

    def resolve(self, desc: str | None, t_ms: float) -> str | None:
        if desc in self.by_id:
            return desc
        return self.at(t_ms)


class Fold:
    """Metrics of one event log, grouped by span id.

    * ``nodes[span][(kind, metric)]`` — SQL-node metric sums;
    * ``tasks[span]`` — task-level totals (cpu, gc, spill, count,
      failed) plus ``jobs`` and ``stages`` counts;
    * ``task_times[span][kind]`` — durations (ms) of the tasks that
      updated a node of that kind;
    * ``signatures[span][kind]`` — distinct node descriptions per kind;
    * ``writes`` — one row per write execution: span, path, start, end
      and its node metrics;
    * ``cache_bytes[span]`` — peak bytes of cached RDD blocks.
    """

    def __init__(self, events, spans: Spans):
        self.nodes = defaultdict(lambda: defaultdict(float))
        self.tasks = defaultdict(lambda: defaultdict(float))
        self.task_times = defaultdict(lambda: defaultdict(list))
        self.signatures = defaultdict(lambda: defaultdict(set))
        self.cache_bytes = defaultdict(float)
        self.writes = []
        self._fold(events, spans)

    def _fold(self, events, spans: Spans) -> None:
        accums = {}           # accumulator id -> (exec id, kind, metric, desc)
        exec_span, exec_info = {}, {}
        stage_span = {}
        blocks = {}           # block id -> bytes (cached RDD blocks)
        writes = {}
        current = None        # span of the latest job started

        def plan(exec_id, info):
            kind = node_kind(info["nodeName"])
            for m in info.get("metrics", []):
                accums[m["accumulatorId"]] = (exec_id, kind, m["name"],
                                              info.get("simpleString", ""))
            if kind == "WriteCommand":
                m = _WRITE_PATH.search(info.get("simpleString", ""))
                if m:
                    writes.setdefault(exec_id, {"exec": exec_id,
                                                "path": m.group(1),
                                                "metrics": {}})
            for child in info.get("children", []):
                plan(exec_id, child)

        def add_node(acc_id, value):
            if acc_id not in accums:
                return
            exec_id, kind, metric, desc = accums[acc_id]
            span = exec_span.get(exec_id)
            if span is None:
                return
            self.nodes[span][(kind, metric)] += value
            self.signatures[span][kind].add(desc)
            if exec_id in writes and kind == "WriteCommand":
                m = writes[exec_id]["metrics"]
                m[metric] = m.get(metric, 0) + value
            elif exec_id in writes:
                m = writes[exec_id]["metrics"]
                key = kind + "." + metric
                m[key] = m.get(key, 0) + value

        for e in events:
            ev = e["Event"]
            if ev == _SQL + "SparkListenerSQLExecutionStart":
                x = e["executionId"]
                exec_span[x] = spans.resolve(e.get("description"), e["time"])
                exec_info[x] = {"start": e["time"]}
                plan(x, e["sparkPlanInfo"])
            elif ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                plan(e["executionId"], e["sparkPlanInfo"])
            elif ev == _SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in exec_info:
                    exec_info[e["executionId"]]["end"] = e["time"]
            elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    add_node(acc_id, float(value))
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                x = props.get("spark.sql.execution.id")
                span = spans.resolve(props.get("spark.job.description"),
                                     e["Submission Time"])
                if span is None and x is not None:
                    span = exec_span.get(int(x))
                current = span
                if span is None:
                    continue
                self.tasks[span]["jobs"] += 1
                for st in e.get("Stage IDs", []):
                    stage_span[st] = span
            elif ev == "SparkListenerStageCompleted":
                st = e["Stage Info"]["Stage ID"]
                if st in stage_span:
                    self.tasks[stage_span[st]]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                self._task(e, stage_span.get(e["Stage ID"]), add_node,
                           accums)
            elif ev == "SparkListenerBlockUpdated":
                # no timestamp here: block updates belong to the span of
                # the job that is running, i.e. the latest job started
                info = e["Block Updated Info"]
                if info["Block ID"].startswith("rdd_"):
                    blocks[info["Block ID"]] = (info.get("Memory Size", 0)
                                                + info.get("Disk Size", 0))
                    if current is not None:
                        self.cache_bytes[current] = max(
                            self.cache_bytes[current], sum(blocks.values()))
        for x, w in writes.items():
            info = exec_info.get(x, {})
            w.update(span=exec_span.get(x), start=info.get("start"),
                     end=info.get("end"))
            self.writes.append(w)
        self.writes.sort(key=lambda w: (w["start"] or 0))

    def _task(self, e, span, add_node, accums) -> None:
        info = e["Task Info"]
        if span is None:
            return
        t = self.tasks[span]
        t["tasks"] += 1
        if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
            t["tasks_failed"] += 1
        m = e.get("Task Metrics") or {}
        t["exec_cpu_ns"] += m.get("Executor CPU Time", 0)
        t["gc_ms"] += m.get("JVM GC Time", 0)
        t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        dur = info["Finish Time"] - info["Launch Time"]
        kinds = set()
        for a in info.get("Accumulables", []):
            if "Update" not in a:
                continue
            try:
                value = float(a["Update"])
            except (TypeError, ValueError):
                continue
            add_node(a["ID"], value)
            if a["ID"] in accums:
                kinds.add(accums[a["ID"]][1])
        for k in kinds:
            self.task_times[span][k].append(dur)


def fold(path: str, spans: list[dict]) -> Fold:
    return Fold(read_events(path), Spans(spans))
