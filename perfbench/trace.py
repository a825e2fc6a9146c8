"""Traced runs: spans around the engine's layer functions, and the fold
of Spark's event log into per-span job, stage and task figures.

Spans are recorded from the benchmark's own code: :meth:`Tracer.install`
rebinds every ``map_reduce_framework_spark.*`` module attribute that
refers to a wrapped layer function (call sites import them by name), and
:meth:`Tracer.uninstall` puts the originals back.  Every span runs under
its own Spark job group, so the event log attributes each job to the
innermost span that launched it.  Spans are kept in memory and written
out once, at the end of the run.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "map_reduce_framework_spark"
IDLE_GROUP = "pb-idle"
_PYTHON_SCOPE = re.compile(r"Python|Pandas|MapInArrow|ArrowEval")


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc, warehouse_dir: str):
        self.sc = sc
        self.warehouse_dir = warehouse_dir
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.storage_mb_peak = 0.0
        self._stack: list[dict] = []
        self._installed: list[tuple[object, str, object]] = []

    # --- spans -------------------------------------------------------------

    def _new(self, name: str, parent: dict | None, thread: str) -> dict:
        rec = {
            "id": len(self.spans),
            "op": self.op_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "thread": thread,
            "group": f"pb-span-{len(self.spans)}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        return rec

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setJobGroup(IDLE_GROUP, "idle")
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str):
        """Record a span on the driver's main thread; yields its record."""
        if threading.current_thread() is not threading.main_thread():
            # layer calls made from the engine's own driver threads are
            # covered by the background span of the caller
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = self._new(name, parent, "main")
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["tracker_jobs"] = len(
                self.sc.statusTracker().getJobIdsForGroup(rec["group"])
            )
            self._stack.pop()
            self._set_group(parent)

    def sample_storage(self) -> None:
        """Fold the current cached-RDD footprint into ``storage_mb_peak``."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        self.storage_mb_peak = max(self.storage_mb_peak, mb)

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    # --- layer wrappers ----------------------------------------------------

    def _wrap(self, name: str, fn, before=None, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                if before and rec:
                    before(rec, args, kwargs)
                out = fn(*args, **kwargs)
                if after and rec:
                    after(rec, args, kwargs)
                return out

        return wrapper

    def _write_bucketed_before(self, rec, args, kwargs) -> None:
        rec["table"] = args[1] if len(args) > 1 else kwargs["table"]
        spark = (args[0] if args else kwargs["df"]).sparkSession
        rec["new_table"] = not spark.catalog.tableExists(rec["table"])

    def _write_bucketed_after(self, rec, args, kwargs) -> None:
        files = [
            f
            for f in glob.glob(os.path.join(self.warehouse_dir, rec["table"], "**"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
        ]
        rec["files"] = len(files)
        rec["bytes"] = sum(os.path.getsize(f) for f in files)

    def _wrap_co_materialize(self, original):
        tracer = self

        @functools.wraps(original)
        @contextmanager
        def co_materialize(df, desc=None):
            with tracer.span("parallel.co_materialize") as rec:
                if not rec:
                    with original(df, desc) as h:
                        yield h
                    return
                # the background action inherits the job group current
                # when its thread is created: give it its own
                bg = tracer._new("parallel.background", rec, "background")
                tracer._set_group(bg)
                try:
                    cm = original(df, desc)
                    h = cm.__enter__()
                finally:
                    tracer._set_group(rec)
                try:
                    yield h
                except BaseException:
                    rec["body_end"] = time.time()
                    if not cm.__exit__(*sys.exc_info()):
                        raise
                else:
                    rec["body_end"] = time.time()
                    cm.__exit__(None, None, None)
                finally:
                    bg["end"] = time.time()
                    bg["tracker_jobs"] = len(
                        tracer.sc.statusTracker().getJobIdsForGroup(bg["group"])
                    )

        return co_materialize

    def install(self) -> None:
        """Rebind the layer functions to span-recording wrappers."""
        targets = [
            ("sources.tables", "load_table", "sources.load_table", None, None),
            ("sources.tables", "table_row_count", "sources.table_row_count", None, None),
            ("sources.bucketing", "write_bucketed", "sources.write_bucketed",
             self._write_bucketed_before, self._write_bucketed_after),
            ("operators.graph", "connected_components",
             "operators.graph.connected_components", None, None),
            ("cache", "persist_tracked", "cache.persist_tracked", None, None),
            ("mapreduce", "run_map_reduce", "mapreduce.run_map_reduce", None, None),
            ("mapreduce", "run_map_reduce_df", "mapreduce.run_map_reduce_df", None, None),
            ("operators.search_client", "search", "mapreduce.search", None, None),
        ]
        replace = {}
        for mod, attr, name, before, after in targets:
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr)
            replace[id(orig)] = self._wrap(name, orig, before, after)
        cm = importlib.import_module(f"{PACKAGE}.parallel").co_materialize
        replace[id(cm)] = self._wrap_co_materialize(cm)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in replace:
                    setattr(mod, attr, replace[id(value)])
                    self._installed.append((mod, attr, value))

    def uninstall(self) -> None:
        for mod, attr, value in reversed(self._installed):
            setattr(mod, attr, value)
        self._installed.clear()
        self._set_group(None)


# --- event log ------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (rolled, possibly zstd-compressed) log file."""
    import pyarrow as pa

    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                text = s.read().decode()
        else:
            with open(path) as f:
                text = f.read()
        events.extend(json.loads(line) for line in text.splitlines() if line.strip())
    return events


def fold_events(events: list[dict]) -> dict:
    """Per job: group, window and summed task metrics of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000,
                "end": None,
                "stages": 0,
                "python_stages": 0,
                "tasks": 0,
                "task_run_s": 0.0,
                "task_deser_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_b": 0,
                "spill_b": 0,
                "input_b": 0,
                "python_task_s": 0.0,
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
    python_stage = set()
    for e in events:
        if e["Event"] != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        job = jobs.get(stage_job.get(info["Stage ID"]))
        if job is None or "Completion Time" not in info:
            continue  # skipped stages ran no tasks
        job["stages"] += 1
        names = " ".join(
            f"{r.get('Name', '')} {r.get('Scope', '')}" for r in info.get("RDD Info", [])
        )
        if _PYTHON_SCOPE.search(names):
            job["python_stages"] += 1
            python_stage.add(info["Stage ID"])
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        job = jobs.get(stage_job.get(e["Stage ID"]))
        m = e.get("Task Metrics")
        if job is None or not m:
            continue
        run_s = m.get("Executor Run Time", 0) / 1000
        job["tasks"] += 1
        job["task_run_s"] += run_s
        job["task_deser_s"] += m.get("Executor Deserialize Time", 0) / 1000
        job["gc_s"] += m.get("JVM GC Time", 0) / 1000
        job["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        job["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        job["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        if e["Stage ID"] in python_stage:
            job["python_task_s"] += run_s
    return jobs


# --- per-layer metrics ------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Main-thread span id → duration minus the part its children cover."""
    main = [s for s in spans if s["thread"] == "main"]
    children: dict[int, list] = {}
    for s in main:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union(children.get(s["id"], []))
        for s in main
    }


class LayerFold:
    """Per-layer sums over the spans of one traced pass."""

    def __init__(self, spans: list[dict], jobs: dict[int, dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.kids.setdefault(s["parent"], []).append(s)
        self.group_jobs: dict[str, list[dict]] = {}
        for j in jobs.values():
            if j["end"] is not None:
                self.group_jobs.setdefault(j["group"], []).append(j)

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s["id"], []))
        return out

    def jobs_under(self, span: dict) -> list[dict]:
        return [j for s in self.subtree(span) for j in self.group_jobs.get(s["group"], [])]

    def outermost(self, name: str) -> list[dict]:
        """Spans called ``name`` with no ancestor of the same name."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and self.by_id[p]["name"] != name:
                p = self.by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def layer(self, name: str) -> tuple[int, float, int]:
        """(calls, inclusive seconds, inclusive jobs) of one layer."""
        top = self.outermost(name)
        calls = sum(1 for s in self.spans if s["name"] == name)
        secs = sum(s["end"] - s["start"] for s in top)
        jobs = sum(len(self.jobs_under(s)) for s in top)
        return calls, secs, jobs


def layer_metrics(spans: list[dict], jobs: dict[int, dict], cores: int, pairs: int) -> dict:
    """The per-layer metric values (see README.md for definitions)."""
    f = LayerFold(spans, jobs)
    m: dict[str, float] = {}
    for layer, prefix in [
        ("sources.load_table", "sources.load_table"),
        ("operators.graph.connected_components", "operators.graph.connected_components"),
    ]:
        calls, secs, njobs = f.layer(layer)
        m[f"{prefix}.calls"], m[f"{prefix}.s"], m[f"{prefix}.jobs"] = calls, secs, njobs
    m["sources.table_row_count.jobs"] = f.layer("sources.table_row_count")[2]
    wb = [s for s in spans if s["name"] == "sources.write_bucketed"]
    m["sources.write_bucketed.calls"] = len(wb)
    m["sources.write_bucketed.s"] = f.layer("sources.write_bucketed")[1]
    m["sources.write_bucketed.files"] = sum(s.get("files", 0) for s in wb)
    m["sources.write_bucketed.mb"] = sum(s.get("bytes", 0) for s in wb) / 1e6
    m["sources.index_built"] = sum(1 for s in wb if s.get("new_table"))

    construct = [s for s in spans if s["name"] == "construct"]
    execute = [s for s in spans if s["name"] == "execute"]
    c_s = sum(s["end"] - s["start"] for s in construct)
    e_s = sum(s["end"] - s["start"] for s in execute)
    m["operators.construct_s"] = c_s
    m["operators.construct_jobs"] = sum(len(f.jobs_under(s)) for s in construct)
    m["operators.construct_share"] = c_s / (c_s + e_s) if c_s + e_s else 0.0

    co = [s for s in spans if s["name"] == "parallel.co_materialize"]
    overlap = wait = 0.0
    for s in co:
        body_end = s.get("body_end", s["end"])
        wait += s["end"] - body_end
        bg_jobs = [j for k in f.kids.get(s["id"], []) if k["thread"] == "background"
                   for j in f.group_jobs.get(k["group"], [])]
        if bg_jobs:
            lo = max(s["start"], min(j["start"] for j in bg_jobs))
            hi = min(body_end, max(j["end"] for j in bg_jobs))
            overlap += max(0.0, hi - lo)
    m["parallel.co_materialize.calls"] = len(co)
    m["parallel.overlap_s"] = overlap
    m["parallel.wait_s"] = wait
    m["cache.persist_tracked.calls"] = f.layer("cache.persist_tracked")[0]

    _, mr_s, mr_jobs = f.layer("mapreduce.run_map_reduce")
    m["mapreduce.run_map_reduce.s"] = mr_s
    m["mapreduce.run_map_reduce.jobs"] = mr_jobs
    m["mapreduce.run_map_reduce.pairs_per_s"] = pairs / mr_s if mr_s else 0.0
    roots = [s for s in spans if s["parent"] is None]
    df_ops = {s["op"] for s in spans if s["name"] == "mapreduce.run_map_reduce_df"}
    m["mapreduce.run_map_reduce_df.s"] = sum(
        r["end"] - r["start"] for r in roots if r["op"] in df_ops
    )
    m["mapreduce.search.s"] = f.layer("mapreduce.search")[1]

    ex_jobs = [j for s in execute for j in f.jobs_under(s)]
    m["execute.s"] = e_s
    m["execute.jobs"] = len(ex_jobs)
    for key in ("stages", "tasks", "python_stages"):
        m[f"execute.{key}"] = sum(j[key] for j in ex_jobs)
    for key in ("task_run_s", "task_deser_s", "gc_s", "python_task_s"):
        m[f"execute.{key}"] = sum(j[key] for j in ex_jobs)
    m["execute.shuffle_write_mb"] = sum(j["shuffle_write_b"] for j in ex_jobs) / 1e6
    m["execute.spill_mb"] = sum(j["spill_b"] for j in ex_jobs) / 1e6
    m["execute.input_mb"] = sum(j["input_b"] for j in ex_jobs) / 1e6
    # over whole operations (construction included): driver time with no
    # Spark job running, and mean core use while jobs ran
    no_job = busy_window = task_s = 0.0
    for r in roots:
        op_jobs = f.jobs_under(r)
        window = _union(
            [(max(j["start"], r["start"]), min(j["end"], r["end"])) for j in op_jobs
             if j["end"] > r["start"] and j["start"] < r["end"]]
        )
        no_job += (r["end"] - r["start"]) - window
        busy_window += window
        task_s += sum(j["task_run_s"] for j in op_jobs)
    m["execute.no_job_s"] = no_job
    m["execute.core_busy"] = task_s / (busy_window * cores) if busy_window else 0.0
    return m
