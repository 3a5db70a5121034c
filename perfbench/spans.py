"""Spans recorded around the benchmark's own calls into the engine, and
the per-layer metrics derived from them and from Spark's event log.

A span is ``{id, parent, name, start, end, ...attrs}``; spans live in
memory and are written out once, at the end of a run. When job
attribution is on, every span runs under its own Spark job group
(``bench-<id>``), so each job Spark logs can be tied back to the span
whose call launched it. Nothing here touches the program's code: the
job group is a local property of the calling thread, and the event log
is enabled from the launcher's ``--conf`` flags.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "bench-"

# Span names: one per layer boundary the benchmark calls across.
SETUP = "session.get_spark"
ROUND = "round"
QUERY = "query"
BUILD = "registry.build"
PLAN = "planner.plan"
EXEC_NOOP = "exec.noop"
EXEC_COLLECT = "exec.collect"
SINK = "sinks.write_text_report"
TEXT_READ = "sources.text.read_word_per_line"
EXEC_SPANS = (EXEC_NOOP, EXEC_COLLECT, SINK)


class Tracer:
    """In-memory span recorder. Once a SparkContext is attached, spans
    also set the Spark job group and count the jobs each span launched."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    @property
    def jobs_attributed(self) -> bool:
        return self._sc is not None

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}",
                                 self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self._sc is not None:
            self._set_group(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                tracker = self._sc.statusTracker()
                rec["jobs"] = len(tracker.getJobIdsForGroup(
                    f"{GROUP_PREFIX}{sid}"))
                self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
               for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, minus the time covered by child spans.
    Children of one span never overlap: calls are sequential."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += duration(s)
    out = defaultdict(float)
    for s in spans:
        out[s["name"]] += duration(s) - child[s["id"]]
    return dict(out)


# Event log -------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
_PYTHON_NODES = ("Python", "InPandas", "InArrow")


def _plan_facts(info: dict) -> dict[str, int]:
    facts = {"exchanges": 0, "reused_exchanges": 0, "broadcasts": 0,
             "python_eval_nodes": 0}
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name == "ReusedExchange":
            facts["reused_exchanges"] += 1
        elif name == "BroadcastExchange":
            facts["broadcasts"] += 1
        elif name == "Exchange":
            facts["exchanges"] += 1
        if any(k in name for k in _PYTHON_NODES):
            facts["python_eval_nodes"] += 1
        stack.extend(node.get("children", []))
    return facts


def _contains(node: dict, prefix: str) -> bool:
    return node.get("nodeName", "").startswith(prefix) or any(
        _contains(c, prefix) for c in node.get("children", []))


def _node_rows(info: dict, prefix: str, above: str | None) -> list[int]:
    """Accumulator ids of 'number of output rows' on nodes whose name
    starts with ``prefix`` and, if ``above`` is given, whose subtree has
    a node named ``above*``."""
    ids, stack = [], [info]
    while stack:
        node = stack.pop()
        if node.get("nodeName", "").startswith(prefix) and (
                above is None or _contains(node, above)):
            ids += [m["accumulatorId"] for m in node.get("metrics", [])
                    if m.get("name") == "number of output rows"]
        stack.extend(node.get("children", []))
    return ids


class EventLog:
    """Stage, task and SQL facts from one uncompressed Spark event log,
    keyed by the benchmark span (job group) that caused them."""

    def __init__(self, path: str):
        self.stage_group: dict[tuple, str | None] = {}
        self.stage_time: dict[tuple, float] = {}
        self.tasks: dict[str | None, list[dict]] = defaultdict(list)
        self.task_times: dict[tuple, list[float]] = defaultdict(list)
        self.jobs: dict[str | None, int] = defaultdict(int)
        self.stages: dict[str | None, int] = defaultdict(int)
        self.exec_group: dict[int, str | None] = {}
        self.exec_plan: dict[int, dict] = {}
        self.replans: dict[int, int] = defaultdict(int)
        self.accum: dict[int, int] = defaultdict(int)
        self.task_failures = 0
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            self.jobs[group] += 1
            sql = props.get("spark.sql.execution.id")
            if sql is not None:
                self.exec_group.setdefault(int(sql), group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.stage_group[key] = group
            self.stages[group] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if "Submission Time" in info and "Completion Time" in info:
                self.stage_time[key] = (info["Completion Time"]
                                        - info["Submission Time"]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            self.exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self.exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            self.replans[ev["executionId"]] += 1

    def _task(self, ev: dict) -> None:
        key = (ev["Stage ID"], ev["Stage Attempt ID"])
        info = ev.get("Task Info", {})
        reason = (ev.get("Task End Reason") or {}).get("Reason")
        if info.get("Failed") or reason not in (None, "Success"):
            self.task_failures += 1
        m = ev.get("Task Metrics")
        if not m:
            return
        for acc in info.get("Accumulables", []):
            upd = acc.get("Update")
            if isinstance(upd, (int, str)) and str(upd).lstrip("-").isdigit():
                self.accum[acc["ID"]] += int(upd)
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        inp = m.get("Input Metrics", {})
        rec = {
            "stage": key,
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "deser_ms": m.get("Executor Deserialize Time", 0),
            "in_bytes": inp.get("Bytes Read", 0),
            "in_rows": inp.get("Records Read", 0),
            "sr_bytes": (sr.get("Remote Bytes Read", 0)
                         + sr.get("Local Bytes Read", 0)),
            "sw_bytes": sw.get("Shuffle Bytes Written", 0),
            "spill": m.get("Disk Bytes Spilled", 0),
        }
        self.tasks[self.stage_group.get(key)].append(rec)
        self.task_times[key].append(rec["run_ms"])

    def executions(self, group: str) -> list[int]:
        return [e for e, g in self.exec_group.items() if g == group]

    def output_rows(self, group: str, prefix: str,
                    above: str | None = None) -> int:
        """Rows out of the plan nodes ``_node_rows`` selects in the SQL
        executions of ``group`` (from the final plan's SQL metrics)."""
        return sum(self.accum.get(acc, 0)
                   for e in self.executions(group)
                   for acc in _node_rows(self.exec_plan.get(e, {}),
                                         prefix, above))


def find_event_log(log_dir: str) -> str | None:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
            if not f.endswith(".inprogress")] if os.path.isdir(log_dir) else []
    return max(logs, key=os.path.getmtime) if logs else None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans: list[dict], log: EventLog, cpus: int,
                  text_rows: tuple[str, str] | None = None) -> dict:
    """Per-layer metrics over the warm rounds: every time and count is a
    median over rounds of that round's total.

    ``text_rows`` names the plan-node prefixes whose output rows count
    the text source's lines, and the lines kept by the filter above that
    node (a filter below it, on files, is not counted)."""
    by_id = {s["id"]: s for s in spans}

    def round_of(s):
        while s["name"] != ROUND:
            if s["parent"] is None:
                return None
            s = by_id[s["parent"]]
        return s

    per_round: dict[int, dict] = {}
    cold_build_jobs = 0
    for s in spans:
        r = round_of(s) if s["name"] != ROUND else None
        if r is None:
            continue
        if r.get("kind") == "cold" and s["name"] == BUILD:
            cold_build_jobs += s.get("jobs", 0)
        if r.get("kind") != "warm":
            continue
        acc = per_round.setdefault(r["id"], defaultdict(float))
        group = f"{GROUP_PREFIX}{s['id']}"
        d = duration(s)
        if s["name"] == BUILD:
            acc["build_s"] += d
            acc["build_jobs"] += s.get("jobs", 0)
        elif s["name"] == PLAN:
            acc["plan_s"] += d
        elif s["name"] == TEXT_READ:
            acc["text_s"] += d
        elif s["name"] in EXEC_SPANS:
            acc["exec_s"] += d
            if s["name"] == SINK:
                acc["sink_s"] += d
                acc["sink_files"] += s.get("files", 0)
                acc["sink_bytes"] += s.get("bytes", 0)
            _exec_facts(acc, log, group)
            if text_rows:
                lines = log.output_rows(group, text_rows[0])
                kept = log.output_rows(group, text_rows[1], text_rows[0])
                acc["text_lines"] += lines
                acc["text_skipped"] += lines - kept

    rounds = list(per_round.values())

    def med(key):
        return _median([r.get(key, 0.0) for r in rounds])

    suite = _median([r["build_s"] + r["plan_s"] + r["exec_s"] for r in rounds])
    exec_s, run_s = med("exec_s"), med("task_run_ms") / 1e3
    mb = 1 << 20
    return {
        "registry.build_s": med("build_s"),
        "registry.build_jobs": med("build_jobs"),
        "registry.build_jobs_cold": cold_build_jobs,
        "registry.build_share": med("build_s") / suite if suite else 0.0,
        "planner.plan_s": med("plan_s"),
        "aqe.replans": med("replans"),
        "scan.tasks": med("scan_tasks"),
        "scan.rows": med("scan_rows"),
        "scan.mb": med("scan_bytes") / mb,
        "scan.run_s": med("scan_run_ms") / 1e3,
        "exec.exec_s": exec_s,
        "exec.jobs": med("jobs"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": med("task_cpu_ns") / 1e9,
        "exec.gc_s": med("gc_ms") / 1e3,
        "exec.deser_s": med("deser_ms") / 1e3,
        "exec.core_util": run_s / (exec_s * cpus) if exec_s else 0.0,
        "exec.task_skew": med("skew"),
        "exec.task_failures": log.task_failures,
        "shuffle.write_mb": med("sw_bytes") / mb,
        "shuffle.read_mb": med("sr_bytes") / mb,
        "shuffle.spill_mb": med("spill") / mb,
        "plan.exchanges": med("exchanges"),
        "plan.reused_exchanges": med("reused_exchanges"),
        "plan.broadcasts": med("broadcasts"),
        "plan.python_eval_nodes": med("python_eval_nodes"),
        "text.list_s": med("text_s"),
        "text.lines": med("text_lines"),
        "text.skipped_lines": med("text_skipped"),
        "sink.write_s": med("sink_s"),
        "sink.files": med("sink_files"),
        "sink.mb": med("sink_bytes") / mb,
        "trace.suite_s": suite,
        "trace.rounds": len(rounds),
    }


def _exec_facts(acc: dict, log: EventLog, group: str) -> None:
    """Add one execution span's jobs, stages, tasks and plan facts."""
    acc["jobs"] += log.jobs.get(group, 0)
    acc["stages"] += log.stages.get(group, 0)
    tasks = log.tasks.get(group, [])
    acc["tasks"] += len(tasks)
    for t in tasks:
        acc["task_run_ms"] += t["run_ms"]
        acc["task_cpu_ns"] += t["cpu_ns"]
        acc["gc_ms"] += t["gc_ms"]
        acc["deser_ms"] += t["deser_ms"]
        acc["sw_bytes"] += t["sw_bytes"]
        acc["sr_bytes"] += t["sr_bytes"]
        acc["spill"] += t["spill"]
        if t["in_bytes"] or t["in_rows"]:
            acc["scan_tasks"] += 1
            acc["scan_rows"] += t["in_rows"]
            acc["scan_bytes"] += t["in_bytes"]
            acc["scan_run_ms"] += t["run_ms"]
    stages = {t["stage"] for t in tasks}
    if stages:
        # skew is read on the round's longest stage
        longest = max(stages, key=lambda k: log.stage_time.get(k, 0.0))
        if log.stage_time.get(longest, 0.0) >= acc.get("longest_s", -1.0):
            times = log.task_times[longest]
            med = statistics.median(times)
            acc["longest_s"] = log.stage_time.get(longest, 0.0)
            acc["skew"] = max(times) / med if med else 1.0
    for e in log.executions(group):
        acc["replans"] += log.replans.get(e, 0)
        for k, v in _plan_facts(log.exec_plan.get(e, {})).items():
            acc[k] += v
