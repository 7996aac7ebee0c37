"""Spans, Spark event-log attribution and plan fingerprints.

Every span is recorded from the benchmark's side of a layer boundary:
around a public call into the library (which, for a lazy operator, only
builds the plan), around ``executedPlan()`` (planning) and around each
action.  Spans never overlap, and each sets the Spark job description to
its own id, so the event log that Spark writes for a traced run
attributes every job, task, GC pause and shuffle byte to exactly one
span.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pstats
import re
import time
from contextlib import contextmanager

#: physical operators whose counts go with every plan fingerprint
PLAN_NODES = ("ArrowEvalPython", "Exchange", "Window")

_NODE_RE = {
    "ArrowEvalPython": re.compile(r"^[\s:+\-*|]*ArrowEvalPython\b", re.M),
    "Exchange": re.compile(r"^[\s:+\-*|]*(?:Broadcast)?Exchange\b", re.M),
    "Window": re.compile(r"^[\s:+\-*|]*Window\b", re.M),
}
_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),  # expression ids
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"\b(pythonUDF|_we|_gen_alias_)\d+"), r"\1"),
    (re.compile(r"file:[^\s,\]]*"), "file:"),  # checkout-specific paths
    (re.compile(r"\bid=\d+"), "id="),
]


def plan_text(df) -> str:
    """The physical plan Spark will run (or ran) for ``df``."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_fingerprint(text: str) -> dict:
    """``plan_sha`` of a physical plan with ids and paths normalized,
    plus the counts of the nodes in ``PLAN_NODES``."""
    norm = text
    for pat, rep in _NORMALIZE:
        norm = pat.sub(rep, norm)
    out = {"plan_sha": hashlib.sha256(norm.encode()).hexdigest()[:16]}
    for name, pat in _NODE_RE.items():
        out[name] = len(pat.findall(text))
    return out


class Tracer:
    """Collects spans in memory; :meth:`attribute` joins them with the
    event log once the session has stopped."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, kind: str):
        rec = {"id": f"s{len(self.spans)}", "name": name, "layer": layer, "kind": kind}
        self.spans.append(rec)
        self.sc.setJobDescription(rec["id"])
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["t1"] = rec["t0"] + rec["dur"]
            self.sc.setJobDescription(None)

    def planned(self, df, name: str, layer: str) -> dict:
        """Force and time physical planning of ``df``; the plan's
        fingerprint goes on the span."""
        with self.span(name, layer, "plan") as rec:
            text = plan_text(df)
        rec.update(plan_fingerprint(text))
        return rec

    def attribute(self, log: "EventLog") -> None:
        """Add Spark counters to every span."""
        for rec in self.spans:
            rec.update(log.counters(rec["id"], rec["t0"], rec["t1"]))


def udf_seconds(spark, dump_dir: str) -> float:
    """Seconds the ``perf`` UDF profiler saw inside Python UDFs since
    the last call (summed over workers), then clear the profiles."""
    os.makedirs(dump_dir, exist_ok=True)
    for f in glob.glob(os.path.join(dump_dir, "*.pstats")):
        os.remove(f)
    spark.profile.dump(dump_dir, type="perf")
    total = sum(
        pstats.Stats(f).total_tt
        for f in glob.glob(os.path.join(dump_dir, "*.pstats"))
    )
    spark.profile.clear(type="perf")
    return total


_TASK_KEYS = ("tasks", "task_s", "gc_s", "shuffle_bytes", "python_rows")


class EventLog:
    """The parts of a Spark event log the ledger needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, dict] = {}  # per job
        self.sql_starts: list[float] = []
        self.python_rows_acc: set[int] = set()
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan_metrics(self, info: dict) -> None:
        if info.get("nodeName", "").startswith("ArrowEvalPython"):
            for m in info.get("metrics", []):
                if m["name"] == "number of output rows":
                    self.python_rows_acc.add(m["accumulatorId"])
        for child in info.get("children", []):
            self._plan_metrics(child)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "desc": props.get("spark.job.description"),
                "submit": ev["Submission Time"] / 1e3,
                "end": None,
            }
            for sid in ev["Stage IDs"]:
                self.stage_job[sid] = jid
            self.tasks[jid] = {k: 0 for k in _TASK_KEYS}
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            jid = self.stage_job.get(ev["Stage ID"])
            if jid is None:
                return
            t = self.tasks[jid]
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["task_s"] += m.get("Executor Run Time", 0) / 1e3
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("ID") in self.python_rows_acc:
                    t["python_rows"] += int(acc.get("Update", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_starts.append(ev["time"] / 1e3)
            self._plan_metrics(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan_metrics(ev.get("sparkPlanInfo") or {})

    def counters(self, span_id: str, t0: float, t1: float) -> dict:
        """Spark counters of the jobs whose description is ``span_id``.
        Jobs without a description (started from a thread of the
        library's own, which does not inherit it) and SQL executions are
        matched on their start time; spans never overlap."""
        out = {"jobs": 0, "job_s": 0.0, **{k: 0 for k in _TASK_KEYS}}
        intervals = []
        for jid, job in self.jobs.items():
            if job["desc"] != span_id and not (
                job["desc"] is None and t0 <= job["submit"] <= t1
            ):
                continue
            out["jobs"] += 1
            intervals.append((job["submit"], job["end"] or job["submit"]))
            for k in _TASK_KEYS:
                out[k] += self.tasks[jid][k]
        out["job_s"] = _union_length(intervals)
        out["sql_executions"] = sum(1 for t in self.sql_starts if t0 <= t <= t1)
        return out


def _union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals (jobs of one
    span can overlap, e.g. a broadcast beside its consumer)."""
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


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
