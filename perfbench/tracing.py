"""The traced run's instruments, all measuring the layers from outside.

- :class:`Tracer` keeps spans (name, start, end, parent, query id) in memory;
  the runner writes them out once the run ends.
- :class:`LayerTimers` wraps the public functions of the ``plans``,
  ``operators`` and ``sources`` modules, and rebinds every module-level name
  that points at one (``from … import checkpoint_to`` binds a second name
  that patching the defining module alone would miss).  Each wrapped call is
  a span.  Python workers unpickle functions by module and name, so they
  still run the original code.
- :func:`read_event_log` parses Spark's uncompressed JSON event log;
  :func:`summarize` attributes its jobs, tasks, SQL metrics and streaming
  progress to the queries whose spans contain them.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, query: str | None = None):
        return _Span(self, name, query)


class _Span:
    def __init__(self, tracer: Tracer, name: str, query: str | None):
        self.tracer, self.name, self.query = tracer, name, query

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        query = self.query or (t.spans[parent]["query"] if parent is not None else None)
        self.rec = {"id": len(t.spans), "name": self.name, "query": query,
                    "parent": parent, "start": time.time(), "end": None}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        self.tracer._stack.pop()
        return False


# layer -> modules whose public functions are timed
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "plans": ("shuffle_policy", "zorder", "explain"),
    "operators": (
        "bloom", "clustering", "decontam", "dedup", "funnel", "graph", "joins",
        "multimodal", "pipeline", "similarity", "stats", "text", "udf", "upsert",
    ),
    "sources": ("tables", "io", "python_source"),
}


class LayerTimers:
    """Install/uninstall call timers on the layers' public functions."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        wrappers: dict[int, tuple[object, object]] = {}
        for layer, mods in LAYER_MODULES.items():
            for short in mods:
                modname = f"remote_shuffle_spark.{layer}.{short}"
                mod = importlib.import_module(modname)
                for name, fn in vars(mod).items():
                    if (
                        inspect.isfunction(fn)
                        and fn.__module__ == modname
                        and not name.startswith("_")
                        and not hasattr(fn, "evalType")  # a (pandas) UDF object
                    ):
                        wrappers[id(fn)] = (fn, self._wrap(fn, f"{layer}.{short}.{name}"))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith("remote_shuffle_spark") or modname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _wrap(self, fn, span_name: str):
        tracer = self.tracer

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return timed


def function_stats(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per wrapped function and per module: calls, and inclusive seconds
    counting only calls not nested in another call of the same function
    (resp. module), so recursion and intra-module calls are not doubled."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0})

    def nested_in(s: dict, prefix: str) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == prefix or by_id[p]["name"].startswith(prefix + "."):
                return True
            p = by_id[p]["parent"]
        return False

    for s in spans:
        if s["name"].count(".") != 2:
            continue
        layer_mod = s["name"].rsplit(".", 1)[0]
        for key in (s["name"], layer_mod):
            out[key]["calls"] += 1
            if not nested_in(s, key):
                out[key]["s"] += s["end"] - s["start"]
    return dict(out)


# --- event log -------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single) application logged under ``log_dir``,
    from a rolling ``eventlog_v2_*/events_N_*`` directory or a plain file."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    events = []
    for path in files:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Window:
    query: str
    start: float  # epoch seconds
    end: float
    build_end: float


@dataclass
class QueryLayers:
    jobs: int = 0
    build_jobs: int = 0
    stage_ids: set = field(default_factory=set)
    stages_run: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_records_written: int = 0
    shuffle_write_time_ms: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_disk_bytes: int = 0
    spill_memory_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    py_sent: int = 0
    py_received: int = 0
    py_rows: int = 0
    batches: list = field(default_factory=list)  # streaming progress dicts
    stages: list = field(default_factory=list)  # completed stage summaries

    def as_dict(self) -> dict:
        d = {k: v for k, v in self.__dict__.items() if k not in ("stage_ids", "batches", "stages")}
        d["stages_total"] = len(self.stage_ids)
        d["batch_ms"] = [b["durationMs"].get("triggerExecution", 0) for b in self.batches]
        return d


def query_windows(spans: list[dict]) -> list[Window]:
    """One window per top-level ``query`` span, with the end of its build."""
    builds = {s["parent"]: s["end"] for s in spans if s["name"] == "build"}
    return [
        Window(s["query"], s["start"], s["end"], builds.get(s["id"], s["start"]))
        for s in spans
        if s["name"] == "query"
    ]


def _progress_epoch(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def summarize(events: list[dict], windows: list[Window]) -> dict[str, QueryLayers]:
    """Attribute the event log to the query windows (sequential, disjoint).

    A job belongs to the query named by its job group; a job under another
    group (a stream's micro-batch jobs run under the stream's run id) to the
    window containing its submission.  Stages and tasks follow their job;
    stream progress follows its timestamp.  Events outside every window
    (session warm-up) are dropped.
    """
    names = {w.query for w in windows}

    def window_at(t_ms: float) -> Window | None:
        t = t_ms / 1000.0
        for w in windows:
            if w.start <= t <= w.end:
                return w
        return None

    out = {w.query: QueryLayers() for w in windows}
    by_query = {w.query: w for w in windows}
    stage_query: dict[int, str] = {}
    python_rows_acc: set[int] = set()

    def note_plan(node: dict) -> None:
        metric_names = {m["name"] for m in node.get("metrics", [])}
        if PY_SENT in metric_names:
            python_rows_acc.update(
                m["accumulatorId"] for m in node["metrics"] if m["name"] == "number of output rows"
            )
        for child in node.get("children", []):
            note_plan(child)

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            w = by_query.get(group) if group in names else window_at(ev["Submission Time"])
            if w is None:
                continue
            q = out[w.query]
            q.jobs += 1
            if ev["Submission Time"] / 1000.0 <= w.build_end:
                q.build_jobs += 1
            for sid in ev["Stage IDs"]:
                q.stage_ids.add(sid)
                stage_query.setdefault(sid, w.query)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            query = stage_query.get(info["Stage ID"])
            if query is None:
                continue
            acc = {a["Name"]: a.get("Value", 0) for a in info.get("Accumulables", [])}
            out[query].stages_run += 1
            out[query].stages.append({
                "stage": info["Stage ID"],
                "submit_ms": info.get("Submission Time"),
                "complete_ms": info.get("Completion Time"),
                "tasks": info.get("Number of Tasks", 0),
                "shuffle_write_bytes": int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0) or 0),
                "shuffle_read_bytes": int(acc.get("internal.metrics.shuffle.read.localBytesRead", 0) or 0)
                + int(acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0) or 0),
            })
        elif kind == "SparkListenerTaskEnd":
            query = stage_query.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if query is None or not tm:
                continue
            q = out[query]
            q.tasks += 1
            q.run_ms += tm.get("Executor Run Time", 0)
            q.cpu_ms += tm.get("Executor CPU Time", 0) / 1e6
            q.gc_ms += tm.get("JVM GC Time", 0)
            sw, sr = tm.get("Shuffle Write Metrics", {}), tm.get("Shuffle Read Metrics", {})
            q.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            q.shuffle_records_written += sw.get("Shuffle Records Written", 0)
            q.shuffle_write_time_ms += sw.get("Shuffle Write Time", 0) / 1e6
            q.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            q.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            q.spill_disk_bytes += tm.get("Disk Bytes Spilled", 0)
            q.spill_memory_bytes += tm.get("Memory Bytes Spilled", 0)
            q.input_bytes += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            q.input_records += tm.get("Input Metrics", {}).get("Records Read", 0)
            q.output_bytes += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for a in ev.get("Task Info", {}).get("Accumulables", []):
                try:  # SQL metric updates are logged as decimal strings
                    upd = int(a.get("Update"))
                except (TypeError, ValueError):
                    continue
                if a.get("Name") == PY_SENT:
                    q.py_sent += upd
                elif a.get("Name") == PY_RECEIVED:
                    q.py_received += upd
                elif a.get("ID") in python_rows_acc:
                    q.py_rows += upd
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            note_plan(ev.get("sparkPlanInfo", {}))
        elif kind.endswith("QueryProgressEvent"):
            p = ev["progress"]
            w = window_at(_progress_epoch(p) * 1000.0)
            if w is not None:
                out[w.query].batches.append(p)
    return out
