"""One benchmark run's Spark driver process.

``run.py`` starts this script as a fresh process for every run, with a
run-local working directory, ``TMPDIR`` and Spark local dirs, and reads
the JSON it writes. Usage:

    python3 perfbench/driver.py <config.json>

The config names the workload, the generated inputs (``gen.py``
manifest), the number of seconds to measure, whether to trace, the
parent's monotonic clock at spawn, and the output path.

A run: set up the session (Python worker pool forked, streaming engine
initialised), clear the trained-index caches, run one cold pass (which
trains the indexes its operations use), one settling pass, then a
fixed number of warm passes that the measuring time buys
(``warm_passes``), stop the session, and only then check every result.
"""

import contextlib
import json
import os
import statistics
import sys
import time
import traceback
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq

from check import frame_hash, oracle_hash, silver_problems
from workloads import NOMINAL_WARM_PASS_S, PIPELINE, WORKLOADS

MIN_WARM = 2
TRACED_WARM_ORDER = (False, True, True, False)


def warm_passes(workload: str, seconds: float) -> int:
    return max(MIN_WARM, round(seconds / NOMINAL_WARM_PASS_S[workload]))


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot. Steal is time
    the hypervisor ran something else while a virtual CPU of this
    machine wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def make_fetcher(html_dir: str, log_path: str):
    """Offline stand-in for the HTTP client: serves the generated pages
    and appends one line per fetch (``1`` served, ``0`` missing). It runs
    inside the Python workers, so it captures only plain values."""

    def fetch(url: str) -> str | None:
        if "seeMoreJobPostings" in url:
            query = urllib.parse.parse_qs(urllib.parse.urlsplit(url).query)
            name = "list_" + query["keywords"][0].lower().replace(" ", "_")
        else:
            name = "detail_" + url.rsplit("/", 1)[-1]
        try:
            with open(os.path.join(html_dir, name + ".html")) as f:
                html = f.read()
        except FileNotFoundError:
            html = None
        with open(log_path, "a") as f:
            f.write("0\n" if html is None else "1\n")
        return html

    return fetch


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.workload = cfg["workload"]
        self.data_dir = cfg["manifest"]["data_dir"]
        self.run_dir = os.getcwd()
        self.tracer = None
        if cfg["trace"]:
            from layers import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        from dataengineer_job_scraper_etl_spark.catalog import all_queries

        self.queries = all_queries()
        self.spark = None
        self.windows: list[tuple[str, str, float, float]] = []
        self.results: dict[str, list] = {}  # op -> [(rows, hash) per pass]
        self.failures: list[str] = []
        self.attempted = 0

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    # -- set-up ------------------------------------------------------
    def setup(self) -> dict:
        from dataengineer_job_scraper_etl_spark.session import get_spark

        # The heap is fixed at its maximum (-Xms = spark.driver.memory).
        # Left to grow on demand, G1 sized it by GC timing: the JVM's
        # resident set moved by a third between seeds of one workload.
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if self.tracer is not None:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        phases = {}
        t = time.perf_counter()
        with self.span("session.start", "session"):
            self.spark = get_spark("perfbench", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        phases["session.start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        with self.span("session.worker_fork", "session"):
            self._fork_workers()
        phases["session.worker_fork_s"] = time.perf_counter() - t

        t = time.perf_counter()
        with self.span("session.stream_init", "session"):
            self._init_streaming()
        phases["session.stream_init_s"] = time.perf_counter() - t
        return phases

    def _fork_workers(self) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, 64 * n, 1, n).select(plus_one("id")).collect()

    def _init_streaming(self) -> None:
        src = os.path.join(self.run_dir, "stream_init", "src")
        os.makedirs(src)
        pq.write_table(pa.table({"k": pa.array(range(8), pa.int64())}),
                       os.path.join(src, "part-0.parquet"))
        counts = (
            self.spark.readStream.schema("k long").parquet(src)
            .groupBy("k").count()
        )
        q = (
            counts.writeStream.outputMode("complete").format("memory")
            .queryName("perfbench_stream_init")
            .option("checkpointLocation",
                    os.path.join(self.run_dir, "stream_init", "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    # -- operations --------------------------------------------------
    def _phase(self, key: str, op: str, phase: str):
        self.spark.sparkContext.setJobGroup(f"{key}:{op}:{phase}", op)
        return self.span(op, phase)

    def run_op(self, key: str, op: str):
        """Build and collect one operation; returns its phase times and
        its result frame (None for the pipeline, or when it raised)."""
        self.attempted += 1
        t0 = time.time()
        timing = {"build_s": 0.0, "sink_s": 0.0}
        pdf = None
        try:
            if op == PIPELINE:
                t = time.perf_counter()
                with self._phase(key, op, "sink"):
                    self._pipeline()
                timing["sink_s"] = time.perf_counter() - t
                self.results.setdefault(op, []).append(None)
            else:
                t = time.perf_counter()
                with self._phase(key, op, "build"):
                    df = self.queries[op].spark_fn(self.spark, self.data_dir)
                timing["build_s"] = time.perf_counter() - t
                t = time.perf_counter()
                with self._phase(key, op, "sink"):
                    pdf = df.toPandas()
                timing["sink_s"] = time.perf_counter() - t
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.failures.append(f"{key}:{op}: {traceback.format_exc(limit=3)}")
        self.windows.append((key, op, t0 * 1000.0, time.time() * 1000.0))
        return timing, pdf

    def _pipeline(self) -> None:
        from dataengineer_job_scraper_etl_spark.plans.pipeline import run_pipeline
        from dataengineer_job_scraper_etl_spark.queries.jobs import (
            PHRASES,
            TEXT_PHRASES,
        )

        scrape = self.cfg["manifest"]["scrape"]
        out = os.path.join(self.run_dir, "pipeline")
        run_pipeline(
            self.spark,
            scrape["titles"],
            make_fetcher(scrape["html_dir"], os.path.join(self.run_dir, "fetch.log")),
            PHRASES,
            silver_path=os.path.join(out, "silver"),
            bronze_path=os.path.join(out, "bronze"),
            concurrency=self.spark.sparkContext.defaultParallelism,
            text_phrases=TEXT_PHRASES,
        )

    def one_pass(self, key: str, traced: bool = True) -> dict:
        if self.tracer is not None:
            self.tracer.request = key
            self.tracer.enabled = traced
        ops, frames = {}, {}
        steal0 = host_steal()
        t = time.perf_counter()
        for op in WORKLOADS[self.workload]:
            ops[op], frames[op] = self.run_op(key, op)
        elapsed = time.perf_counter() - t
        steal1 = host_steal()
        for op, pdf in frames.items():  # hashed outside the pass's time
            if pdf is not None:
                self.results.setdefault(op, []).append(frame_hash(pdf))
        return {"key": key, "s": elapsed, "ops": ops,
                "traced": traced and self.tracer is not None,
                "steal": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])}

    # -- checks (after the timed region) -----------------------------
    def check(self) -> None:
        for op, per_pass in self.results.items():
            if op == PIPELINE:
                continue
            oracle = self.queries[op].oracle
            want = oracle_hash(self.data_dir, oracle) if oracle else None
            for i, got in enumerate(per_pass):
                if want is not None and got != want:
                    self.failures.append(f"pass {i}:{op}: {got} != oracle {want}")
                elif want is None and (got[0] == 0 or got != per_pass[0]):
                    self.failures.append(f"pass {i}:{op}: rows-only check {got}")
        if PIPELINE in self.results:
            scrape = self.cfg["manifest"]["scrape"]
            silver = os.path.join(self.run_dir, "pipeline", "silver")
            for p in silver_problems(silver, scrape["titles"],
                                     scrape["expected_silver_rows"]):
                self.failures.append(f"pipeline: {p}")


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    run = Run(cfg)
    setup = run.setup()
    setup_s = time.monotonic() - cfg["t_spawn"]

    # The cold pass starts from empty trained-index caches, so it pays
    # the index training a nightly run pays. The pass after it still runs
    # JIT-cold code and is the slowest later pass: it settles and is not
    # a warm pass.
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        clear_trained_indexes,
    )

    clear_trained_indexes()
    passes = [run.one_pass("p0")]
    passes.append(dict(run.one_pass("p1", traced=False), settling=True))
    if run.tracer is None:
        for _ in range(warm_passes(run.workload, cfg["seconds"])):
            passes.append(run.one_pass(f"p{len(passes)}"))
    else:
        # Untraced and traced warm passes in A-B-B-A order, so neither
        # side of the overhead gets the slower passes.
        for traced in TRACED_WARM_ORDER:
            passes.append(run.one_pass(f"p{len(passes)}", traced))
    run.spark.stop()

    run.check()
    out = {
        "setup_s": setup_s,
        "setup": setup,
        "passes": passes,
        "attempted": run.attempted,
        "failures": run.failures,
    }
    if run.tracer is not None:
        out["layers"] = layer_report(run, setup, passes)
        run.tracer.dump(os.path.join(run.run_dir, "spans.json"))
    with open(cfg["out"], "w") as f:
        json.dump(out, f)
    return 0


def layer_report(run: Run, setup: dict, passes: list[dict]) -> dict:
    """Per-layer metrics of the traced run: warm-pass medians of the
    event-log counters, span self times and operation times, plus the
    set-up phases, the cold pass's index training and the scrape and
    sink counts."""
    from layers import EventLog, find_event_log, layer_times

    def owner(group: str, ms: float):
        if group.count(":") == 2:  # "<pass>:<op>:<phase>", set by run_op
            return group.split(":", 1)[0]
        for key, _, start, end in run.windows:
            if start <= ms <= end:
                return key
        return None

    path = find_event_log(os.path.join(run.run_dir, "eventlog"))
    counters = EventLog(path).counters(owner) if path else {}
    spans = run.tracer.spans
    per_pass = []
    for p in passes:
        if not p["traced"]:
            continue
        m = dict(counters.get(p["key"], {}))
        m.update(layer_times(spans, p["key"]))
        m["index.probe_s"] = _index_probe_s(spans, p)
        for op, t in p["ops"].items():
            m[f"op.{op}.s"] = t["build_s"] + t["sink_s"]
            m[f"op.{op}.build_s"] = t["build_s"]
        m["driver.build_s"] = sum(t["build_s"] for t in p["ops"].values())
        m["trace.ops_cover"] = sum(
            t["build_s"] + t["sink_s"] for t in p["ops"].values()) / p["s"]
        per_pass.append(m)
    warm = per_pass[1:]
    report = {n: statistics.median(m.get(n, 0.0) for m in warm)
              for n in set().union(*warm)}
    report["index.build_s"] = per_pass[0].get("index.build_s", 0.0)
    report["index.train_calls"] = per_pass[0].get("index.train_calls", 0.0)
    report.update(setup)
    report.update(_scrape_and_sink_counts(run))
    report["cold"] = per_pass[0]
    warm_s = {t: statistics.median(p["s"] for p in passes[2:] if p["traced"] == t)
              for t in (True, False)}
    report["trace.overhead"] = warm_s[True] / warm_s[False]
    return report


def _scrape_and_sink_counts(run: Run) -> dict:
    """Fetches and fetch failures per pipeline run (every run fetches the
    same pages), and the parquet files the pipeline's sinks hold."""
    n_runs = len(run.results.get(PIPELINE, ()))
    if not n_runs:
        return {}
    with open(os.path.join(run.run_dir, "fetch.log")) as f:
        lines = f.read().split()
    out_dir = os.path.join(run.run_dir, "pipeline")
    return {
        "scrape.fetches": len(lines) / n_runs,
        "scrape.fetch_fail": lines.count("0") / n_runs,
        "io.sink_files": sum(
            1 for _, _, files in os.walk(out_dir) for f in files
            if f.endswith(".parquet")),
    }


def _index_probe_s(spans, p: dict) -> float:
    """Time of the pass's operations that probe an index (their build
    called into the index layer), build plus execution."""
    ops_with_index = set()
    for s in spans:
        if s[5] != p["key"] or s[1] != "index":
            continue
        j = s[4]
        while j >= 0 and spans[j][1] != "build":
            j = spans[j][4]
        if j >= 0:
            ops_with_index.add(spans[j][0])
    return sum(t["build_s"] + t["sink_s"] for op, t in p["ops"].items()
               if op in ops_with_index)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
