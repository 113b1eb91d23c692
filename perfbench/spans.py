"""Spans around public calls, and the event-log reducer behind them.

The benchmark wraps each call into a layer in ``Tracer.span(name)``,
which sets the Spark job group to the span name and accumulates the
call's wall time. In a traced run the session writes Spark's event log
(uncompressed), and ``reduce_event_log`` folds its job, task and
SQL-plan events into per-span totals: every job carries its group, every
task its stage, every stage its job, and every SQL execution the jobs
that ran it. Jobs of a streaming query carry the query's run id as their
group; ``aliases`` maps such groups onto span names.

Plans are counted on the final adaptive plan of each execution, so an
exchange or sort that adaptive execution removed is not counted, and an
exchange is counted where it runs: a reused exchange is not counted
again, and the plan behind a cached frame counts once, in the execution
that builds the cache.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

# Task GC time is left out: it is counted only for tasks during which a
# collection ran, so on small spans it reads 0 on every run.
FIELDS = (
    "wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "exchanges", "sorts",
)
UNITS = {
    "wall_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
    "jobs": "count", "tasks": "count", "exchanges": "count", "sorts": "count",
}


class Tracer:
    """Per-span wall time and call counts, kept in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}
        self.calls: dict[str, int] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.wall[name] = self.wall.get(name, 0.0) + dt
            self.calls[name] = self.calls.get(name, 0) + 1

    def record(self, name: str, wall_s: float, calls: int) -> None:
        """Account calls timed elsewhere (e.g. streaming epochs)."""
        self.wall[name] = self.wall.get(name, 0.0) + wall_s
        self.calls[name] = self.calls.get(name, 0) + calls


def _plan_counts(node: dict, acc: dict, cached: set[str]) -> None:
    """Count the exchanges and sorts of a plan that run in its execution.

    Spark's plan info shows the plan a ``ReusedExchange`` reuses and the
    plan a cached relation (``InMemoryTableScan``) was built from. The
    former never runs again; the latter runs once, in the first execution
    that reads the cache. ``cached`` holds the cached plans already
    counted.
    """
    name = node.get("nodeName", "")
    if name == "ReusedExchange":
        return
    if name == "InMemoryTableScan":
        key = json.dumps(node.get("children", []), sort_keys=True)
        if key in cached:
            return
        cached.add(key)
    if name == "Exchange":
        acc["exchanges"] += 1
    elif name == "Sort":
        acc["sorts"] += 1
    for child in node.get("children", []):
        _plan_counts(child, acc, cached)


def reduce_event_log(log_dir: str, aliases: dict[str, str] | None = None) -> dict:
    """Fold every event log under ``log_dir`` into ``{span: {field: total}}``.

    Totals exclude ``wall_s``, which the ``Tracer`` measures.
    """
    aliases = aliases or {}
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    tasks: list[tuple[int, dict]] = []
    for path in sorted(glob.glob(f"{log_dir}/**", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    group = aliases.get(group, group)
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    exec_plan[int(ev["executionId"])] = ev["sparkPlanInfo"]
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {f: 0 for f in FIELDS if f != "wall_s"})

    for jid, group in job_group.items():
        acc(group)["jobs"] += 1
    for sid, m in tasks:
        jid = stage_job.get(sid)
        if jid is None:
            continue
        a = acc(job_group[jid])
        a["tasks"] += 1
        a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        a["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        sw = m.get("Shuffle Write Metrics") or {}
        a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    cached: set[str] = set()
    for eid in sorted(exec_group):
        if eid in exec_plan:
            _plan_counts(exec_plan[eid], acc(exec_group[eid]), cached)
    return out


def per_layer(tracer: Tracer, reduced: dict, spans: list[str], skip=()) -> dict:
    """Per-call means of every field for each span, named ``span.field``,
    except the names in ``skip``."""
    metrics = {}
    for span in spans:
        calls = max(1, tracer.calls.get(span, 0))
        totals = {**reduced.get(span, {}), "wall_s": tracer.wall.get(span, 0.0)}
        for f in FIELDS:
            if f"{span}.{f}" not in skip:
                metrics[f"{span}.{f}"] = (totals.get(f, 0) / calls, UNITS.get(f, "B"))
    return metrics
