"""Spans around the benchmark's calls, and Spark's event log read back.

A span is (name, start, end, parent). The benchmark opens one around
each call it makes into a package module; while a span is open its
Spark jobs carry the span's id and name as their job group, which labels
them in the event log. The driver submits jobs from one thread, so the
jobs of a span are the jobs submitted inside its window, and that is how
`pass_counters` charges jobs, stages and tasks to a pass. Spans are kept
in memory and written out when the run ends. With tracing off the
tracer records nothing and sets no job group.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark_context=None):
        self._sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self._sc is not None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._sc.setJobGroup(f"span{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(f"span{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, start: float, end: float, parent: int | None) -> dict:
        """Record a span whose bounds were observed after the fact."""
        rec = {"id": len(self.spans), "name": name, "parent": parent, "start": start, "end": end}
        self.spans.append(rec)
        return rec

    def coverage(self, rec: dict) -> float:
        """Share of the span's wall time covered by its children."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]
        )
        return _union_length(kids) / max(rec["end"] - rec["start"], 1e-9)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- event log ---------------------------------------------------------------

# Stage kinds, recognised from the physical-plan nodes a stage runs.
# The vote extraction is the Python node whose output carries the
# `extractor` column; the ensemble is the aggregate keyed on exactly the
# triple key (operators/ensemble.GROUP_KEY); the consistency battery is
# the window chain over (entity_name, entity_type, ...).
_VOTES_NODE = re.compile(r"^MapInPandas .*\bextractor#\d+")
_ENSEMBLE_NODE = re.compile(
    r"Aggregate\(keys?=\[entity_name#\d+, entity_type#\d+, relation#\d+, "
    r"slot_value#\d+, slot_ner#\d+\]"
)
_CONSISTENCY_NODE = re.compile(r"^Window \[.*windowspecdefinition\(entity_name#\d+, entity_type#\d+")

_PY_RUN = "time to run Python workers"


class EventLog:
    """Jobs, stages and task metrics from one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        node_of_acc: dict[int, tuple[str, str]] = {}
        stage_accs: dict[int, set[int]] = {}
        tasks: dict[int, dict] = defaultdict(_empty_task_sums)
        sql_sums: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(e["sparkPlanInfo"], node_of_acc)
                elif ev == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {
                        "start": e["Submission Time"] / 1e3,
                        "end": None,
                        "stages": list(e["Stage IDs"]),
                    }
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Completion Time" in si:
                        self.stages[si["Stage ID"]] = {
                            "start": si["Submission Time"] / 1e3,
                            "end": si["Completion Time"] / 1e3,
                        }
                        stage_accs[si["Stage ID"]] = {a["ID"] for a in si.get("Accumulables", [])}
                elif ev == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    m = e.get("Task Metrics") or {}
                    t = tasks[sid]
                    t["tasks"] += 1
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        try:
                            sql_sums[sid][a["ID"]] += float(a.get("Update"))
                        except (TypeError, ValueError):
                            pass
        for sid, st in self.stages.items():
            st.update(tasks[sid])
            simples = {node_of_acc[a][0] for a in stage_accs[sid] if a in node_of_acc}
            st["kind"] = _stage_kind(simples)
            st["py_votes_s"] = st["votes_rows"] = 0.0
            for acc, val in sql_sums[sid].items():
                simple, metric = node_of_acc.get(acc, ("", ""))
                if not _VOTES_NODE.match(simple):
                    continue
                if metric == _PY_RUN:
                    st["py_votes_s"] += val / 1e3
                elif metric == "number of output rows":
                    st["votes_rows"] += val

    def jobs_between(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs.values() if j["end"] is not None and start <= j["start"] <= end]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        seen = {sid for j in jobs for sid in j["stages"]}
        return [self.stages[s] for s in sorted(seen) if s in self.stages]


def _empty_task_sums() -> dict:
    return {"tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0}


def _walk_plan(p: dict, out: dict) -> None:
    simple = p.get("simpleString", "")
    for m in p.get("metrics", []):
        out[m["accumulatorId"]] = (simple, m["name"])
    for c in p.get("children", []):
        _walk_plan(c, out)


def _stage_kind(simples: set[str]) -> str:
    if any(_VOTES_NODE.match(s) for s in simples):
        return "votes"
    if any(_ENSEMBLE_NODE.search(s) for s in simples):
        return "ensemble"
    if any(_CONSISTENCY_NODE.match(s) for s in simples):
        return "consistency"
    return "other"


def pass_counters(log: EventLog, start: float, end: float) -> dict[str, float]:
    """Counters for the Spark work submitted inside one pass window."""
    jobs = log.jobs_between(start, end)
    stages = log.stages_of(jobs)
    busy = _union_length([(j["start"], j["end"]) for j in jobs])

    def by_kind(kind: str, key: str) -> float:
        return sum(s[key] for s in stages if s["kind"] == kind)

    def wall(kind: str) -> float:
        return _union_length([(s["start"], s["end"]) for s in stages if s["kind"] == kind])

    return {
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in stages),
        "driver_gap_s": (end - start) - busy,
        "task_cpu_s": sum(s["cpu_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 2**20,
        "votes_wall_s": wall("votes"),
        "votes_py_s": by_kind("votes", "py_votes_s"),
        "votes_cpu_s": by_kind("votes", "cpu_s"),
        "votes_rows": by_kind("votes", "votes_rows"),
        "ensemble_wall_s": wall("ensemble"),
        "ensemble_gc_s": by_kind("ensemble", "gc_s"),
        "ensemble_shuffle_write_mb": by_kind("ensemble", "shuffle_write_b") / 2**20,
        "consistency_wall_s": wall("consistency"),
        "consistency_jobs": sum(
            any(log.stages.get(s, {}).get("kind") == "consistency" for s in j["stages"])
            for j in jobs
        ),
    }
