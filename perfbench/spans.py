"""Span tracing installed from outside the program.

:class:`Tracer` replaces public functions of the package with wrappers
that record a span (name, start, end, parent) around each call and,
when asked, force the call's lazy DataFrame output inside the span —
persisted and run through the ``noop`` sink — so Spark's deferred work
is charged to the layer that defined it instead of to whichever later
call happens to trigger an action. Spans are kept in memory; the
benchmark reduces them to per-layer metrics when the run ends.

Spark jobs are attributed to spans through the Spark event log
(enabled only for traced runs): a job carrying a ``spark.jobGroup.id``
the tracer set belongs to that span; jobs launched from the program's
own worker threads carry no group and fall back to the innermost span
whose interval contains the job's submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._persisted: list = []
        self._seq = 0

    # -- span recording ----------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> dict:
        stack = self._stack()
        with self._lock:
            self._seq += 1
            rec = {"id": self._seq, "name": name, "start": time.time(), "end": None,
                   "parent": stack[-1] if stack else None,
                   "thread": threading.get_ident()}
            self.spans.append(rec)
        stack.append(rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack().pop()

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, force: bool = False):
        """Replace ``owner.attr`` (module function or class method) with a
        span-recording wrapper. ``force`` persists + materializes every
        DataFrame in the result inside the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            sc = spark.sparkContext if spark is not None else None
            prev = sc.getLocalProperty("spark.jobGroup.id") if sc is not None else None
            with tracer.span(name) as rec:
                if sc is not None:
                    sc.setLocalProperty("spark.jobGroup.id", f"span-{rec['id']}")
                try:
                    out = orig(*args, **kwargs)
                    if force:
                        with tracer.span(name + "#force") as frec:
                            if sc is not None:
                                sc.setLocalProperty("spark.jobGroup.id", f"span-{frec['id']}")
                            out = tracer.force(out)
                    return out
                finally:
                    if sc is not None:
                        sc.setLocalProperty("spark.jobGroup.id", prev)

        self.patch(owner, attr, wrapper)
        return wrapper

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until :meth:`uninstall`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def force(self, out):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out = out.persist()
            self._persisted.append(out)
            out.write.format("noop").mode("overwrite").save()
            return out
        if isinstance(out, tuple):
            return tuple(self.force(o) for o in out)
        if isinstance(out, list):
            return [self.force(o) for o in out]
        return out

    def release(self) -> None:
        """Unpersist what :meth:`force` cached (call after each op)."""
        while self._persisted:
            self._persisted.pop().unpersist()

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- reduction ---------------------------------------------------------

    def closed(self, since: float, until: float) -> list[dict]:
        """Finished spans that started in [since, until]."""
        return [s for s in self.spans if s["end"] is not None and since <= s["start"] <= until]

    def self_times(self, since: float, until: float) -> dict[str, float]:
        """Per span name: total self time (span duration minus the union
        of its direct children's intervals), seconds."""
        spans = self.closed(since, until)
        kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = _union_len([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                                 s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total_times(self, since: float, until: float) -> dict[str, float]:
        """Per span name: union of its spans' intervals (outermost calls
        only, so recursion or nested calls of one name don't double
        count), seconds."""
        spans = self.closed(since, until)
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append((s["start"], s["end"]))
        return {n: _union_len(iv, float("-inf"), float("inf")) for n, iv in by_name.items()}

    def attribute_jobs(self, jobs: list[dict], since: float, until: float) -> dict[int, str]:
        """job id -> span name. Group-tagged jobs go to their span; the
        rest to the innermost (latest-starting) span covering their
        submission time."""
        spans = self.closed(since, until)
        by_id = {s["id"]: s for s in spans}
        out = {}
        for j in jobs:
            g = j.get("group") or ""
            if g.startswith("span-") and int(g[5:]) in by_id:
                out[j["id"]] = by_id[int(g[5:])]["name"]
                continue
            t = j["submit"]
            best = None
            for s in spans:
                if s["start"] <= t <= s["end"] and (best is None or s["start"] > best["start"]):
                    best = s
            if best is not None:
                out[j["id"]] = best["name"]
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.rec = self.tracer._open(self.name)
        return self.rec

    def __exit__(self, *exc):
        self.tracer._close(self.rec)
        return False


def _union_len(intervals, lo: float, hi: float) -> float:
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def eventlog_conf(directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_eventlog(directory: str) -> dict:
    """Jobs, task totals and SQL scan metrics from the (uncompressed)
    event log(s) under ``directory``; call after the SparkContext stopped
    so the log is flushed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    acc_meta: dict[int, tuple[int, str, str]] = {}  # acc id -> (exec id, node, metric)
    acc_vals: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(directory, "*")):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # torn last line
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    jobs[jid] = {"id": jid, "submit": e["Submission Time"] / 1000.0,
                                 "group": props.get("spark.jobGroup.id"),
                                 "stages": len(e.get("Stage Infos", [])), "end": None}
                    for st in e.get("Stage IDs", []):
                        stage_job[st] = jid
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None and props.get("spark.jobGroup.id"):
                        exec_group.setdefault(int(ex), props["spark.jobGroup.id"])
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    ti = e.get("Task Info") or {}
                    tm = e.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
                    tasks.append({
                        "stage": e.get("Stage ID"),
                        "launch": ti.get("Launch Time", 0) / 1000.0,
                        "failed": reason != "Success" or bool(ti.get("Failed")),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    })
                    for a in ti.get("Accumulables", []):
                        if a.get("ID") in acc_meta and "Update" in a:
                            try:
                                acc_vals[a["ID"]] = acc_vals.get(a["ID"], 0.0) + float(a["Update"])
                            except (TypeError, ValueError):
                                pass
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    ex = e.get("executionId")
                    _walk_plan(e.get("sparkPlanInfo") or {}, ex, acc_meta)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, val in e.get("accumUpdates", []):
                        if acc_id in acc_meta:
                            acc_vals[acc_id] = acc_vals.get(acc_id, 0.0) + float(val)
    scans: dict[int, dict[str, float]] = {}
    for acc_id, (ex, _node, metric) in acc_meta.items():
        d = scans.setdefault(ex, {})
        d[metric] = d.get(metric, 0.0) + acc_vals.get(acc_id, 0.0)
    return {"jobs": list(jobs.values()), "stage_job": stage_job, "tasks": tasks,
            "scans": scans, "exec_group": exec_group}


_SCAN_METRICS = {"number of files read": "files", "number of output rows": "rows"}


def _walk_plan(node: dict, ex, acc_meta) -> None:
    name = node.get("nodeName", "")
    if name.startswith("Scan") or "FileSourceScan" in name:
        for m in node.get("metrics", []):
            key = _SCAN_METRICS.get(m.get("name"))
            if key:
                acc_meta[m["accumulatorId"]] = (ex, name, key)
    for c in node.get("children", []):
        _walk_plan(c, ex, acc_meta)
