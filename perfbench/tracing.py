"""Spans, the Spark event log and the plan-tree walk behind the traced run.

A traced run records a span around every call the benchmark makes into
a ``sentinel_spark`` layer and around every action, keeps the spans in
memory and writes them when the run ends. Spark's event log (enabled
only in traced runs) supplies jobs, stages, task metrics and the
executed plan of every SQL execution; :func:`layer_report` joins the
two by time.

* A job belongs to the innermost ``sentinel_spark`` module named in
  its Python call site (``callSite.short``); a job without one belongs
  to the layer of the innermost span that encloses its submission
  (:class:`CallProbe` adds spans around calls the program makes between
  its own layers).
* Exchanges, broadcasts and scans are counted by walking the final
  (AQE) plan-info tree of each SQL execution. The walk stops at an
  ``InMemoryTableScan`` and at a ``ReusedExchange``: the plan-info tree
  repeats a cached frame's lineage below the first and the reused
  exchange below the second, and neither is executed again.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
_CALLSITE_MODULE = re.compile(r"sentinel_spark/([\w/]+)\.py")


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` is a null context.

    A span is ``{name, layer, start, end, parent, request}`` with epoch
    milliseconds, so it lines up with the event log's timestamps. Spans
    opened from Spark's callback thread (``foreachBatch``) nest under
    the span the driver thread is blocked in."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def span(self, name: str, layer: str | None = None, request: str | None = None, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(name, layer, request, attrs)

    @contextmanager
    def _span(self, name, layer, request, attrs):
        with self._lock:
            parent = self._stack[-1] if self._stack else -1
            up = self.spans[parent] if parent >= 0 else {}
            rec = {
                "name": name,
                "layer": layer or up.get("layer"),
                "request": request or up.get("request"),
                "parent": parent,
                "start": time.time() * 1000.0,
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.time() * 1000.0
                self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class CallProbe:
    """Spans around named public functions of ``sentinel_spark`` modules,
    installed for a traced run only. The program calls them from inside a
    layer the benchmark calls (``build_training_corpus`` calls
    ``functions.*`` and ``sources.export``); Spark records no Python call
    site for writes, so without these spans a job a function submits
    itself would be charged to the caller's span.

    ``targets`` maps a module (``"functions.dedup"``) to function names.
    Each function is replaced in its module and in every loaded
    ``sentinel_spark`` module that imported it by name, and restored on
    exit."""

    def __init__(self, tracer: Tracer, targets: dict[str, tuple[str, ...]]):
        self.tracer = tracer
        self.targets = targets
        self.saved: list[tuple[object, str, object]] = []

    def __enter__(self):
        import importlib
        import sys

        try:
            for layer, names in self.targets.items():
                mod = importlib.import_module(f"sentinel_spark.{layer}")
                for name in names:
                    fn = getattr(mod, name)
                    wrapped = self._wrap(layer, name, fn)
                    for m in [m for k, m in sys.modules.items() if k.startswith("sentinel_spark")]:
                        if vars(m).get(name) is fn:
                            self.saved.append((m, name, fn))
                            setattr(m, name, wrapped)
        except BaseException:
            self.__exit__(None, None, None)
            raise
        return self

    def __exit__(self, *exc):
        for m, name, fn in reversed(self.saved):
            setattr(m, name, fn)
        self.saved.clear()

    def _wrap(self, layer: str, name: str, fn):
        tracer = self.tracer

        def wrapped(*args, **kwargs):
            with tracer.span(f"{layer}.{name}", layer=layer, call=True):
                return fn(*args, **kwargs)

        return wrapped


# -- plan tree ---------------------------------------------------------------

def _executed(node: dict):
    """Yield the nodes of one plan-info tree that were executed, skipping
    the subtrees under ``InMemoryTableScan`` and ``ReusedExchange``."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        if n.get("nodeName") not in ("InMemoryTableScan", "ReusedExchange"):
            stack.extend(n.get("children", ()))


def walk_plan(node: dict) -> Counter:
    """Count ``exchanges`` (shuffles), ``broadcasts``, ``scans`` and
    ``fanout_exchanges`` (round-robin repartitions, the scan fan-out of
    ``sources.tables``) in one plan-info tree (``nodeName`` /
    ``simpleString`` / ``children`` dicts, as the event log writes them)."""
    out: Counter = Counter()
    for n in _executed(node):
        name = n.get("nodeName", "")
        if name == "Exchange":
            out["exchanges"] += 1
            if "RoundRobinPartitioning" in n.get("simpleString", ""):
                out["fanout_exchanges"] += 1
        elif name == "BroadcastExchange":
            out["broadcasts"] += 1
        elif name.startswith(("Scan ", "BatchScan")) or name in ("InMemoryTableScan", "LocalTableScan"):
            out["scans"] += 1
    return out


def scan_metric_ids(node: dict, metric: str) -> list[int]:
    """Accumulator ids of ``metric`` on the executed file scans of one plan tree."""
    return [m["accumulatorId"] for n in _executed(node) if n.get("nodeName", "").startswith("Scan ")
            for m in n.get("metrics", ()) if m.get("name") == metric]


# -- event log ---------------------------------------------------------------

def event_log_files(ev_dir: str) -> list[str]:
    out = []
    for root, _, files in os.walk(ev_dir):
        out += [os.path.join(root, f) for f in files if not f.startswith(".")]
    return sorted(out)


class EventLog:
    """Jobs, stages (with summed task metrics) and SQL executions parsed
    from an uncompressed, unrolled Spark event log."""

    def __init__(self, paths: list[str]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        accums: dict[int, dict[int, int]] = defaultdict(dict)
        for p in paths:
            with open(p) as fh:
                for line in fh:
                    self._event(json.loads(line), accums)
        for eid, ex in self.executions.items():
            ex["accums"] = accums.get(eid, {})

    def _event(self, ev: dict, accums) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "submit": ev["Submission Time"],
                "stage_ids": ev.get("Stage IDs", []),
                "callsite": props.get("callSite.short", ""),
            }
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            self._stage(si["Stage ID"])["submit"] = si.get("Submission Time")
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = self._stage(si["Stage ID"])
            st["submit"] = si.get("Submission Time", st.get("submit"))
            st["completed"] = True
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)
        elif kind == _SQL_START:
            self.executions[ev["executionId"]] = {"start": ev["time"], "plan": ev["sparkPlanInfo"]}
        elif kind == _SQL_AQE:
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex["plan"] = ev["sparkPlanInfo"]
        elif kind == _SQL_ACCUM:
            accums[ev["executionId"]].update({a: v for a, v in ev["accumUpdates"]})

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, Counter())

    def _task(self, ev: dict) -> None:
        st = self._stage(ev["Stage ID"])
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        st["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            st["failed_tasks"] += 1
        launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
        getting = info.get("Getting Result Time", 0)
        getting = finish - getting if getting > 0 else 0
        run = m.get("Executor Run Time", 0)
        overhead = max(0, (finish - launch) - run - m.get("Executor Deserialize Time", 0)
                       - m.get("Result Serialization Time", 0) - getting)
        queued = max(0, launch - (st.get("submit") or launch))
        st["scheduler_delay_ms"] += queued + overhead
        st["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        st["jvm_gc_ms"] += m.get("JVM GC Time", 0)
        st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)


# -- joining spans and events -------------------------------------------------

STAGE_FIELDS = ("tasks", "failed_tasks", "executor_cpu_ms", "scheduler_delay_ms", "jvm_gc_ms",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _innermost(spans: list[dict], t: float) -> int:
    """Index of the innermost span open at epoch-ms ``t`` (-1 if none).
    Event timestamps are whole milliseconds, so a span counts as open
    over [floor(start), end]."""
    best, depth = -1, -1
    for i, s in enumerate(spans):
        if s["end"] is not None and int(s["start"]) <= t <= s["end"]:
            d, p = 0, s["parent"]
            while p >= 0:
                d, p = d + 1, spans[p]["parent"]
            if d >= depth:
                best, depth = i, d
    return best


def _root(spans: list[dict], i: int) -> int:
    while i >= 0 and spans[i]["parent"] >= 0:
        i = spans[i]["parent"]
    return i


def _enclosing(spans: list[dict], i: int, name: str) -> int | None:
    """Index of span ``i`` or its nearest ancestor called ``name``."""
    while i >= 0:
        if spans[i]["name"] == name:
            return i
        i = spans[i]["parent"]
    return None


def job_layer(job: dict, spans: list[dict], span_idx: int) -> str:
    """The ``sentinel_spark`` module in the job's call site, else the
    layer of the innermost span open at its submission."""
    m = _CALLSITE_MODULE.search(job.get("callsite", ""))
    if m:
        return m.group(1).replace("/", ".")
    if span_idx >= 0:
        return spans[span_idx].get("layer") or "unattributed"
    return "unattributed"


def layer_report(spans: list[dict], log: EventLog, counted: set[int]) -> dict:
    """Per-request layer figures for the root spans whose index is in
    ``counted``: jobs, stages, summed task metrics, plan counts, the time
    in ``build`` / ``plan`` / ``action`` spans, and per-layer jobs, CPU,
    shuffle writes and ``call_ms`` (time inside :class:`CallProbe` calls,
    nested calls of the same layer counted once). Returns totals; the
    caller divides by the number of requests."""
    tot: Counter = Counter()
    per_layer: dict[str, Counter] = defaultdict(Counter)
    stage_job: dict[int, int] = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid]["stage_ids"]:
            stage_job.setdefault(sid, jid)
    for jid, job in sorted(log.jobs.items()):
        i = _innermost(spans, job["submit"])
        r = _root(spans, i)
        if r not in counted:
            continue
        layer = job_layer(job, spans, i)
        in_build = _enclosing(spans, i, "build") is not None
        tot["jobs"] += 1
        tot["eager_jobs"] += in_build
        per_layer[layer]["jobs"] += 1
        for sid in job["stage_ids"]:
            st = log.stages.get(sid)
            if st is None or stage_job.get(sid) != jid or not st.get("completed"):
                continue
            tot["stages"] += 1
            for f in STAGE_FIELDS:
                tot[f] += st[f]
            per_layer[layer]["executor_cpu_ms"] += st["executor_cpu_ms"]
            per_layer[layer]["shuffle_write_bytes"] += st["shuffle_write_bytes"]
    for ex in log.executions.values():
        if _root(spans, _innermost(spans, ex["start"])) not in counted:
            continue
        tot.update(walk_plan(ex["plan"]))
        tot["scan_bytes"] += sum(ex["accums"].get(a, 0) for a in scan_metric_ids(ex["plan"], "size of files read"))
    for i, s in enumerate(spans):
        if _root(spans, i) not in counted:
            continue
        key = {"build": "build_ms", "plan": "plan_ms", "action": "exec_ms"}.get(s["name"])
        if key:
            tot[key] += s["end"] - s["start"]
        if s.get("call") and spans[s["parent"]]["layer"] != s["layer"]:
            per_layer[s["layer"]]["call_ms"] += s["end"] - s["start"]
    return {"total": tot, "per_layer": per_layer}
