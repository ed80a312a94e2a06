"""Traced-run collection: module-boundary wrappers, a streaming-progress
listener, and a Spark event-log parser.

Nothing here edits the engine. Public functions are wrapped on their
modules (and re-bound in every engine module that imported the name), so
the numbers are the time the benchmark's calls spend inside each layer.
Spark's own work per operation comes from its event log, written with
``spark.eventLog.enabled=true`` at launch and parsed after the session
stops.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "dbt_snowflake_feature_store_spark"


# ---------------------------------------------------------------------------
# module-boundary wrappers
# ---------------------------------------------------------------------------
class Layers:
    """Call counts and busy seconds per wrapped name. A layer counts only
    its outermost call: time inside a nested call of the same layer is
    already inside the outer span. ``scope`` names the part of the round
    in progress; calls are also counted per (scope, name)."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)
        self.scoped: dict[tuple[str, str], int] = defaultdict(int)
        self._depth: dict[str, int] = defaultdict(int)
        self.scope = lambda: "none"
        self.on = False

    def wrap(self, fn, layer: str, name: str):
        layers = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not layers.on or layers._depth[layer]:
                return fn(*args, **kwargs)
            layers._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                layers._depth[layer] -= 1
                layers.calls[name] += 1
                layers.scoped[(layers.scope(), name)] += 1
                layers.secs[name] += dt
                layers.secs[layer] += dt
            return out

        return traced

    def wrap_module(self, module, names, layer: str, prefix: str) -> None:
        """Replace ``module.<name>`` for each name and re-bind every engine
        module attribute that still points at the original function."""
        for n in names:
            orig = getattr(module, n)
            new = self.wrap(orig, layer, f"{prefix}.{n}")
            for mod in list(sys.modules.values()):
                if mod is not None and getattr(mod, "__name__", "").startswith(PKG):
                    for attr, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, attr, new)

    def wrap_methods(self, owner, names, layer: str, prefix: str) -> None:
        for n in names:
            setattr(owner, n, self.wrap(getattr(owner, n), layer, f"{prefix}.{n}"))


def public_functions(module) -> list[str]:
    """Functions defined in ``module`` whose names do not start with '_'."""
    return [n for n, v in vars(module).items()
            if callable(v) and not n.startswith("_")
            and getattr(v, "__module__", None) == module.__name__
            and not isinstance(v, type)]


def parquet_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return out


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------
def make_stream_listener():
    """A StreamingQueryListener that sums micro-batch progress and keeps
    each batch's trigger time (epoch ms)."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressSum(StreamingQueryListener):
        def __init__(self):
            self.totals: dict[str, float] = defaultdict(float)
            self.batch_times_ms: list[float] = []
            self.events = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            t = self.totals
            t["batches"] += 1
            stamp = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            self.batch_times_ms.append(stamp.timestamp() * 1e3)
            t["input_rows"] += p.numInputRows or 0
            t["trigger_ms"] += d.get("triggerExecution", 0)
            t["add_batch_ms"] += d.get("addBatch", 0)
            t["query_planning_ms"] += d.get("queryPlanning", 0)
            t["wal_commit_ms"] += d.get("walCommit", 0)
            ops = p.stateOperators or []
            # state size is a level, not a flow: keep the largest seen
            t["state_rows"] = max(t["state_rows"], sum(s.numRowsTotal or 0 for s in ops))
            t["state_bytes"] = max(t["state_bytes"], sum(s.memoryUsedBytes or 0 for s in ops))
            self.events += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressSum()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    ok: bool = True


@dataclass
class Stage:
    id: int
    tasks: list[float] = field(default_factory=list)  # task durations, ms
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_rows: int = 0


@dataclass
class SqlExec:
    id: int
    start_ms: int
    nodes: list[str] = field(default_factory=list)  # final plan node names


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    sql: dict[int, SqlExec]


def _plan_nodes(info: dict) -> list[str]:
    out, stack = [], [info]
    while stack:
        n = stack.pop()
        out.append(n.get("nodeName", ""))
        stack.extend(n.get("children", []))
    return out


def _log_lines(path: str):
    """Lines of a single event-log file, or of a rolling log directory's
    ``events_<n>_<app>`` files in order."""
    if os.path.isdir(path):
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            yield from fh


def parse_event_log(path: str) -> EventLog:
    """Jobs (with job group), stages (task metrics summed), and SQL
    executions (with their final adaptive plan's node names)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    sql: dict[int, SqlExec] = {}
    for line in _log_lines(path):
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                                    e["Submission Time"], stages=list(e.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j:
                j.end_ms = e["Completion Time"]
                j.ok = e.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            s = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            s.tasks.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            s.run_ms += m.get("Executor Run Time", 0)
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            s.spill += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            im = m.get("Input Metrics") or {}
            s.input_rows += im.get("Records Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[e["executionId"]] = SqlExec(e["executionId"], e.get("time", 0),
                                            _plan_nodes(e.get("sparkPlanInfo") or {}))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            x = sql.get(e["executionId"])
            if x is not None:
                x.nodes = _plan_nodes(e.get("sparkPlanInfo") or {})
    return EventLog(jobs, stages, sql)


def find_event_log(log_dir: str, app_id: str) -> str:
    """The finished log (file or rolling directory) of one application."""
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


@dataclass
class Window:
    """One timed operation: wall-clock span and its job group."""
    group: str
    start_ms: float
    end_ms: float


def window_at(windows: list[Window], t: float) -> Window | None:
    """The operation window that was open at epoch-ms ``t``, if any."""
    for w in windows:
        if w.start_ms <= t <= w.end_ms:
            return w
    return None


def attribute(log: EventLog, windows: list[Window]) -> dict[str, dict]:
    """Assign jobs and SQL executions to operation windows: by job group
    when the job carries one of ours, else by submission time (the client
    is a single closed loop, so windows never overlap). Returns per-group
    Spark totals."""
    by_group = {w.group: w for w in windows}

    out: dict[str, dict] = {w.group: defaultdict(float) for w in windows}
    spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    slowest: dict[str, tuple[float, float]] = {}
    for j in log.jobs.values():
        w = by_group.get(j.group) or window_at(windows, j.submit_ms)
        if w is None:
            continue
        o = out[w.group]
        o["jobs"] += 1
        spans[w.group].append((j.submit_ms, j.end_ms or j.submit_ms))
        for sid in j.stages:
            s = log.stages.get(sid)
            if s is None:  # skipped stage (shuffle reuse)
                continue
            o["tasks"] += len(s.tasks)
            o["exec_run_s"] += s.run_ms / 1e3
            o["exec_cpu_s"] += s.cpu_ns / 1e9
            o["gc_s"] += s.gc_ms / 1e3
            o["shuffle_write_bytes"] += s.shuffle_write
            o["shuffle_read_bytes"] += s.shuffle_read
            o["spill_bytes"] += s.spill
            o["input_rows"] += s.input_rows
            if s.tasks:
                dur = max(s.tasks)
                if dur > slowest.get(w.group, (-1, 0))[0]:
                    med = statistics.median(s.tasks)
                    slowest[w.group] = (dur, dur / med if med > 0 else 1.0)
    for x in log.sql.values():
        w = window_at(windows, x.start_ms)
        if w is None:
            continue
        o = out[w.group]
        o["sql_execs"] += 1
        o["parquet_scans"] += sum(1 for n in x.nodes if n.startswith("Scan parquet"))
        o["exchanges"] += sum(1 for n in x.nodes if n in ("Exchange", "ShuffleExchange"))
        o["broadcast_exchanges"] += sum(1 for n in x.nodes if n == "BroadcastExchange")
        o["unions"] += sum(1 for n in x.nodes if n == "Union")
    for w in windows:
        o = out[w.group]
        o["task_skew"] = slowest.get(w.group, (0, 0.0))[1]
        o["driver_gap_s"] = (w.end_ms - w.start_ms - _covered(spans[w.group], w)) / 1e3
        o["wall_s"] = (w.end_ms - w.start_ms) / 1e3
    return out


def _covered(spans: list[tuple[float, float]], w: Window) -> float:
    """Length of the union of job spans, clipped to the window."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, w.start_ms), min(e, w.end_ms)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# what the traced run wraps
# ---------------------------------------------------------------------------
FUNCTION_MODULES = ["ranks", "graph", "bpe", "similarity", "text"]
STORAGE_WRITES = ["write_full", "append", "merge", "replace", "overwrite_partitions", "write_bucketed"]


def install(layers: Layers) -> None:
    """Wrap the module-level public functions. Runs before the query
    operators are imported, so names they bind at import time are the
    wrapped ones; names already bound elsewhere are re-bound."""
    import importlib

    pit = importlib.import_module(f"{PKG}.pit")
    models = importlib.import_module(f"{PKG}.models")
    tables = importlib.import_module(f"{PKG}.sources.tables")
    registry = importlib.import_module(f"{PKG}.registry")
    layers.wrap_module(pit, ["asof_join"], "pit", "pit")
    layers.wrap_module(models, ["evaluate_metric"], "models", "models")
    layers.wrap_module(tables, ["read_table"], "sources", "sources")
    layers.wrap_methods(registry.Registry, ["put", "get", "list"], "registry", "registry")
    for m in FUNCTION_MODULES:
        mod = importlib.import_module(f"{PKG}.functions.{m}")
        layers.wrap_module(mod, public_functions(mod), f"functions.{m}", f"functions.{m}")


def wrap_storage(layers: Layers, storage) -> None:
    """Wrap one store's TableFormat instance: write/read/recover time,
    files and bytes each write left under its path, files each read
    lists."""

    def path_of(args) -> str | None:
        return next((a for a in args if isinstance(a, str)), None)

    for n in STORAGE_WRITES + ["read", "recover"]:
        orig = getattr(storage, n, None)
        if orig is None:
            continue
        kind = "write" if n in STORAGE_WRITES else n
        timed = layers.wrap(orig, "storage", f"storage.{kind}")

        def call(*args, _timed=timed, _kind=kind, **kwargs):
            t0 = time.time()
            out = _timed(*args, **kwargs)
            path = path_of(args)
            if layers.on and not layers._depth["storage"] and path and os.path.isdir(path):
                files = parquet_files(path)
                if _kind == "write":
                    new = [f for f in files if os.path.getmtime(f) >= t0 - 0.01]
                    layers.calls["storage.files_written"] += len(new)
                    layers.calls["storage.bytes_written"] += sum(os.path.getsize(f) for f in new)
                elif _kind == "read":
                    layers.calls["storage.files_read"] += len(files)
            return out

        setattr(storage, n, call)
