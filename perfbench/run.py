"""Benchmark entry point. Run it from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are listed in ``BENCHMARK.json`` and ``workloads.py``. A run
generates the workload's inputs from the seed (``gen.py``) into a
run-local directory under ``.perfbench_runs/``, starts a fresh Spark
driver process (``driver.py``) with its own ``TMPDIR`` and Spark local
dirs, samples the resident memory of the driver JVM and its Python
workers from ``/proc`` while it runs, checks the outputs, and prints
every metric by name and unit. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
driver with Spark's event log on and the layer wrappers installed
(``layers.py``); its warm passes alternate untraced and traced (A-B-B-A),
after one settling pass, and it reports the per-layer metrics of the
traced passes, each layer's self time, the per-operation times and the
tracing overhead (traced over untraced warm pass).

The host is fitted through the program's own environment variables:
``SPARK_GRAFT_CPUS`` is the number of usable cores and
``SPARK_GRAFT_DRIVER_MEM`` is 2g, whatever the caller's environment
holds, so that every run measures the same configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import generate  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PROGRAM = os.path.join("dataengineer_job_scraper_etl_spark", "catalog.py")
DRIVER_MEM = "2g"
RUN_TIMEOUT_S = 172.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def declared_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric in BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


class RssSampler(threading.Thread):
    """Peak summed resident set of the driver JVM and its Python workers:
    the driver process's descendants (the PySpark daemon starts its own
    process group, so a group would miss the workers). Every descendant
    seen is remembered, so that ones orphaned by the driver's exit can
    still be stopped.

    Only processes named ``java`` or ``python*`` count: a child the JVM
    forks to run a helper program (``bash``, ``readlink``) shows the
    JVM's whole resident set, under the forking thread's name, until it
    execs, and would otherwise count the JVM twice."""

    def __init__(self, root_pid: int) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.peak = 0
        self.peak_jvm = 0
        self.seen: set[tuple[int, str]] = set()
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.25):
            procs = descendants(self.root_pid)
            self.seen.update((p.pid, p.start) for p in procs)
            counted = [p for p in procs if p.comm == "java" or p.comm.startswith("python")]
            total = sum(p.rss for p in counted)
            if total > self.peak:
                self.peak = total
                self.peak_jvm = sum(p.rss for p in counted if p.comm == "java")


class Proc(NamedTuple):
    pid: int
    ppid: int
    start: str  # start time since boot: tells a reused pid apart
    rss: int
    comm: str
    state: str  # "Z": ended, waiting to be reaped by its parent


def processes() -> dict[int, Proc]:
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            continue  # the process ended while being read
        fields = stat[stat.rindex(")") + 2:].split()
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        procs[int(name)] = Proc(int(name), int(fields[1]), fields[19], rss, comm, fields[0])
    return procs


def descendants(root: int) -> list[Proc]:
    procs = processes()
    out, frontier = [], [root]
    while frontier:
        parent = frontier.pop()
        for p in procs.values():
            if p.ppid == parent:
                out.append(p)
                frontier.append(p.pid)
    return out


def stop_tree(proc: subprocess.Popen, seen: set[tuple[int, str]]) -> None:
    """Stop the driver, its descendants and every descendant seen while it
    ran, and wait until all of them have ended. The JVM's shutdown hooks
    take seconds after a TERM and only clean up the run directory, which
    is removed anyway, so a KILL follows after half a second."""

    def alive() -> list[int]:
        procs = processes()
        known = seen | {(p.pid, p.start) for p in descendants(proc.pid)}
        return [pid for pid, start in known
                if pid in procs and procs[pid].start == start and procs[pid].state != "Z"]

    for sig, grace in ((signal.SIGTERM, 0.5), (signal.SIGKILL, 10.0)):
        for pid in [proc.pid, *alive()]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is not None and not alive():
                return
            time.sleep(0.1)
    proc.wait()


def drive(root: str, run_dir: str, manifest: dict, args, trace: bool,
          deadline: float) -> dict:
    """One fresh driver process; returns its result plus peak RSS."""
    tmp = os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    for d in (tmp, work):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    cfg = {
        "workload": args.workload, "manifest": manifest, "seconds": args.seconds,
        "trace": trace, "out": out,
    }
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("SPARK_MASTER", None)
    cfg_path = os.path.join(run_dir, "config.json")
    cfg["t_spawn"] = time.monotonic()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(run_dir, "driver.log"), "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"), cfg_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.done.set()
            sampler.join()
            stop_tree(proc, sampler.seen)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "driver.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"driver exited with {code}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = sampler.peak / (1024.0 * 1024.0)
    res["peak_jvm_mb"] = sampler.peak_jvm / (1024.0 * 1024.0)
    return res


def warm_op_medians(passes: list[dict]) -> dict[str, float]:
    """Each operation's median time (build + execution) over the warm
    passes: the untraced passes after the settling pass."""
    warm = [p for p in passes[1:] if not p["traced"] and not p.get("settling")]
    return {op: statistics.median(p["ops"][op]["build_s"] + p["ops"][op]["sink_s"]
                                  for p in warm)
            for op in passes[0]["ops"]}


def end_to_end(res: dict) -> dict[str, float]:
    """warm_pass_s is the sum of the operations' warm medians, so that a
    slow spell of the host in one pass's operation and another pass's
    operation moves neither; the operations run back to back, so the sum
    is the time of a typical warm pass."""
    passes = res["passes"]
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": passes[0]["s"],
        "warm_pass_s": sum(warm_op_medians(passes).values()),
        "peak_rss_mb": res["peak_rss_mb"],
    }


UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "peak_rss_mb": "MB"}


def report_run(res: dict, manifest: dict, args) -> None:
    print(f"workload {args.workload}  seed {args.seed}  "
          f"cores {len(os.sched_getaffinity(0))}")
    for name, inp in manifest["inputs"].items():
        print(f"  input {name:12s} {inp['rows']:>8d} rows {inp['bytes']:>10d} bytes")
    for name, value in end_to_end(res).items():
        print(f"  {name:14s} {value:12.4f} {UNITS[name]}")
    print(f"  peak_rss_mb at its peak: JVM {res['peak_jvm_mb']:.1f} MB, "
          f"Python workers {res['peak_rss_mb'] - res['peak_jvm_mb']:.1f} MB")
    print("  setup phases: " + "  ".join(
        f"{k} {v:.3f}" for k, v in res["setup"].items()))
    failed = len(res["failures"])
    print(f"  {'failed_frac':14s} {failed / res['attempted']:12.4f} "
          f"({failed} of {res['attempted']} operations)")
    print("  passes (* traced, ~ settling): " + " ".join(
        f"{p['s']:.3f}{'*' if p['traced'] else '~' if p.get('settling') else ''}"
        for p in res["passes"]) + " s")
    # Steal is time the hypervisor gave another guest while this machine's
    # virtual CPUs wanted to run; on a shared host it slows whole passes.
    print("  host steal per pass: " + " ".join(
        f"{100 * p['steal']:.1f}%" for p in res["passes"]))
    print("  cold pass by operation: " + "  ".join(
        f"{op} {t['build_s'] + t['sink_s']:.3f}"
        for op, t in res["passes"][0]["ops"].items()))
    print("  warm passes by operation (median): " + "  ".join(
        f"{op} {t:.3f}" for op, t in warm_op_medians(res["passes"]).items()))
    for f in res["failures"]:
        print("  FAILED " + f.strip().replace("\n", "\n    "))


def main() -> int:
    # A TERM (a timeout of whoever runs the benchmark) unwinds through the
    # cleanup below: the driver's process tree is stopped and waited for.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PROGRAM)):
        print(f"error: {PROGRAM} not found; run from the root of a checkout",
              file=sys.stderr)
        return 2
    started = time.monotonic()
    run_root = os.path.join(root, ".perfbench_runs")
    run_dir = os.path.join(
        run_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        manifest = generate(os.path.join(run_dir, "inputs"), args.workload, args.seed)
        res = drive(root, os.path.join(run_dir, "driver"), manifest, args,
                    bool(args.trace), started + RUN_TIMEOUT_S)
        report_run(res, manifest, args)
        if args.trace:
            metrics = layer_metrics(res, args)
        else:
            metrics = {n: {"value": v, "unit": UNITS[n]}
                       for n, v in end_to_end(res).items()}
    except RuntimeError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        keep = os.path.join(run_dir, "driver", "work", "spans.json")
        if os.path.exists(keep):
            shutil.copy(keep, os.path.join(
                run_root, f"spans-{args.workload}-s{args.seed}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = len(res["failures"])
    print(json.dumps({
        "correct": failed == 0, "attempted": res["attempted"], "failed": failed,
        "metrics": metrics,
    }))
    return 0


def layer_metrics(res: dict, args) -> dict:
    layers = dict(res["layers"])
    cold = layers.pop("cold")
    print(f"tracing overhead x{layers['trace.overhead']:.4f} "
          "(traced over untraced warm passes, A-B-B-A)")
    print(f"index_build_s {layers.get('index.build_s', 0.0):.4f} s "
          "(index training in the cold pass)")
    print("  self time per layer (warm-pass median):")
    for n in sorted(k for k in layers if k.startswith("self.")):
        print(f"    {n:28s} {layers[n]:10.4f} s")
    print("  per operation (warm-pass median, build + execution):")
    for op in WORKLOADS[args.workload]:
        print(f"    {op:34s} {layers.get(f'op.{op}.s', 0.0):9.4f} s  "
              f"build {layers.get(f'op.{op}.build_s', 0.0):8.4f} s  "
              f"cold {cold.get(f'op.{op}.s', 0.0):8.4f} s")
    metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": unit}
               for n, unit in declared_layer_metrics()}
    print("  per-layer metrics:")
    for n, m in metrics.items():
        print(f"    {n:34s} {m['value']:14.4f} {m['unit']}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
