"""Layer tracing from outside the package, for the traced run.

Three sources, none of which edits a file of the program:

- **Spans.** ``Tracer.install`` wraps the public functions of each
  layer module (and ``DataFrame.localCheckpoint``/``checkpoint``)
  before the catalog is imported, because queries bind operators with
  ``from ... import``. Each call records a span (name, layer, start,
  end, parent, request id) in memory; ``Tracer.spans`` is written out
  once, when the run ends.
- **Spark's event log**, enabled to a run-local directory and parsed
  after the session stops: jobs, stages, tasks, shuffle and spill
  bytes, executor run/CPU/GC time, Python worker time, cached RDD
  block bytes (``BlockUpdated`` events), written bytes, Exchanges in the
  final plans, and the streaming engine's ``QueryProgressEvent``s (the
  events a ``StreamingQueryListener`` receives).
- **The offline fetcher's log**, one line per fetch (see ``driver.py``).

Jobs are attributed to an operation by the job group the driver sets
around each phase (``<pass>:<op>:<phase>``); jobs of other groups
(streaming micro-batches run under the query's own group) and SQL
executions are attributed by their start time to the operation window
that holds it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import re
import statistics
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

PKG = "dataengineer_job_scraper_etl_spark"

# layer -> modules whose public functions are wrapped
LAYER_MODULES = {
    "ckpt": ("staging",),
    "components": ("operators.components",),
    "scrape": ("sources.scrape",),
    "skills": ("operators.skills",),
    "io": ("io",),
    "index": ("operators.similarity", "operators.opq"),
    "stream": ("streaming.jobs",),
}
# Index probes that consult a trained-artifact cache (a call that trains
# nothing is a cache hit).
CACHED_PROBES = {"ivf_topk", "ivfpq_topk", "pq_rerank_topk", "opq_train", "pq_train"}
SKIP = {"clear_trained_indexes"}
PY_NODE = re.compile(r"Python|Pandas|Arrow")

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder. ``request`` tags every span with the
    pass it belongs to; spans of one pass share it."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.request = "setup"
        self.enabled = True  # off: wrapped calls run as if unwrapped
        self._local = threading.local()
        self._index_caches: list[dict] = []

    # -- recording ---------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        idx = len(self.spans)
        rec = [name, layer, time.time(), None, stack[-1] if stack else -1,
               self.request, 0]
        self.spans.append(rec)
        stack.append(idx)
        trained = self._trained_count() if layer == "index" else 0
        try:
            yield rec
        finally:
            stack.pop()
            rec[3] = time.time()
            if layer == "index":
                rec[6] = self._trained_count() - trained

    def _trained_count(self) -> int:
        return sum(len(c) for c in self._index_caches)

    def wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # -- installation ------------------------------------------------
    def install(self) -> None:
        """Wrap every layer module's public functions, rebind the names
        other already-imported package modules took by ``from ...
        import``, and wrap DataFrame materialization."""
        originals = {}
        for layer, mods in LAYER_MODULES.items():
            for short in mods:
                mod = importlib.import_module(f"{PKG}.{short}")
                for attr, fn in list(vars(mod).items()):
                    if (
                        inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__
                        and not attr.startswith("_")
                        and attr not in SKIP
                    ):
                        wrapped = self.wrap(fn, layer)
                        setattr(mod, attr, wrapped)
                        originals[id(fn)] = wrapped
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and inspect.isfunction(val):
                    setattr(mod, attr, originals[id(val)])
        from pyspark.sql.classic.dataframe import DataFrame

        for meth in ("localCheckpoint", "checkpoint"):
            setattr(DataFrame, meth, self.wrap(getattr(DataFrame, meth), "ckpt"))
        sim = importlib.import_module(f"{PKG}.operators.similarity")
        self._index_caches = [
            sim._CENTROID_CACHE, sim._CODEBOOK_CACHE, sim._CODED_CORPUS_CACHE,
            *sim._EXTRA_TRAINED_CACHES,
        ]

    def dump(self, path: str) -> None:
        keys = ("name", "layer", "start", "end", "parent", "request", "trained")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


# -- span analysis -----------------------------------------------------
def _sink_write(name: str) -> bool:
    """A write counted in io.sink_write_s. ``write_if_nonempty`` is not
    one: its ``isEmpty`` runs the whole upstream plan (the pipeline's
    scrape) before it calls the write it wraps."""
    return name.startswith("io.write_") and name != "io.write_if_nonempty"


def layer_times(spans: list[list], request: str) -> dict[str, float]:
    """Per pass: self time per layer, plus the index build/probe split,
    index cache hits, and checkpoint/components call counts."""
    children = defaultdict(float)
    for s in spans:
        if s[5] == request and s[4] >= 0 and s[3] is not None:
            children[s[4]] += s[3] - s[2]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if s[5] != request or s[3] is None:
            continue
        name, layer, start, end, parent = s[:5]
        out[f"self.{layer}_s"] += (end - start) - children[i]
        if _sink_write(name) and not (parent >= 0 and _sink_write(spans[parent][0])):
            out["io.sink_write_s"] += end - start
        outermost = parent < 0 or spans[parent][1] != layer
        if not outermost:
            continue
        if layer in ("ckpt", "components"):
            out[f"{layer}.calls"] += 1
            out[f"{layer}.s"] += end - start
        if layer == "index":
            if s[6] > 0:
                out["index.build_s"] += end - start
                out["index.train_calls"] += s[6]
            elif name.split(".", 1)[1] in CACHED_PROBES:
                out["index.cache_hits"] += 1
    return dict(out)


# -- event log ---------------------------------------------------------
def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


class EventLog:
    """The counters of one run's event log, attributable to operation
    windows."""

    def __init__(self, path: str) -> None:
        self.jobs = {}  # job id -> (group, submit ms)
        self.stage_job = {}
        self.stages = []  # (stage id, n tasks) of each completed stage
        self.tasks = defaultdict(list)  # stage id -> task records
        self.sql = {}  # execution id -> [start ms, final plan info]
        self.acc_type = {}
        self.py_rows_ids = set()
        self.progress = []
        self.blocks = []  # (job id, bytes) of each cached RDD block stored
        self._last_job = None
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        for node in _plan_nodes(info):
            python = bool(PY_NODE.search(node.get("nodeName", "")))
            for m in node.get("metrics", []):
                self.acc_type[m["accumulatorId"]] = m["metricType"]
                if python and m["name"] == "number of output rows":
                    self.py_rows_ids.add(m["accumulatorId"])

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            self.jobs[e["Job ID"]] = (group, e["Submission Time"])
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
            self._last_job = e["Job ID"]
        elif kind == "SparkListenerBlockUpdated":
            # carries no job id; blocks are stored by the job started last
            info = e["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):
                self.blocks.append(
                    (self._last_job, info["Memory Size"] + info["Disk Size"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages.append((info["Stage ID"], info["Number of Tasks"]))
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            if not tm:
                return
            accs = {a["ID"]: (a.get("Name"), a.get("Update", 0))
                    for a in e["Task Info"].get("Accumulables", [])}
            self.tasks[e["Stage ID"]].append((tm, accs))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = [e["time"], e["sparkPlanInfo"]]
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]][1] = e["sparkPlanInfo"]
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("QueryProgressEvent"):
            self.progress.append(e["progress"])

    def counters(self, owner) -> dict[str, dict[str, float]]:
        """``owner(group, ms)`` -> key (a pass or an operation) or None.
        Returns key -> counter name -> value."""
        out: dict = defaultdict(lambda: defaultdict(float))
        job_key = {j: owner(g, t) for j, (g, t) in self.jobs.items()}
        for j, key in job_key.items():
            if key is not None:
                out[key]["spark.jobs"] += 1
                if self.jobs[j][0].endswith(":build"):
                    out[key]["driver.jobs_in_build"] += 1
        skews = defaultdict(list)
        for sid, ntasks in self.stages:
            key = job_key.get(self.stage_job.get(sid))
            if key is None:
                continue
            c = out[key]
            c["spark.stages"] += 1
            c["spark.tasks"] += ntasks
            runs = []
            for tm, accs in self.tasks.get(sid, ()):
                sr = tm.get("Shuffle Read Metrics", {})
                c["shuffle.read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
                c["shuffle.write_mb"] += tm.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
                c["spill.mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                c["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
                c["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                c["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                c["io.sink_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / MB
                for acc_id, (name, upd) in accs.items():
                    if name == "time to run Python workers":
                        scale = 1e9 if self.acc_type.get(acc_id) == "nsTiming" else 1e3
                        c["python.udf_s"] += float(upd) / scale
                    elif acc_id in self.py_rows_ids:
                        c["python.rows"] += float(upd)
                runs.append(tm.get("Executor Run Time", 0))
            if len(runs) >= 2 and statistics.median(runs) > 0:
                skews[key].append(max(runs) / statistics.median(runs))
        for job, size in self.blocks:
            key = job_key.get(job)
            if key is not None:
                out[key]["ckpt.mb"] += size / MB
        for key, vals in skews.items():
            out[key]["exec.task_skew"] = statistics.mean(vals)
        for start, info in self.sql.values():
            key = owner("", start)
            if key is not None:
                out[key]["spark.exchanges"] += sum(
                    1 for n in _plan_nodes(info) if n.get("nodeName") == "Exchange")
        last_state = {}
        for p in self.progress:
            key = owner("", _iso_ms(p["timestamp"]))
            if key is None:
                continue
            d = p.get("durationMs", {})
            c = out[key]
            c["stream.batches"] += 1
            c["stream.batch_s"] += d.get("triggerExecution", 0) / 1e3
            c["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
            c["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
            c["stream.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            last_state[(key, p["runId"])] = p.get("stateOperators", [])
        for (key, _), ops in last_state.items():
            out[key]["stream.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
            out[key]["stream.state_mb"] += sum(o.get("memoryUsedBytes", 0) for o in ops) / MB
        return out


def find_event_log(directory: str) -> str | None:
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    return os.path.join(directory, names[0]) if len(names) == 1 else None
