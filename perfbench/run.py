"""Seeded closed-loop benchmark for the meta-iterative engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload iterate --seed 1 --seconds 10 --trace 0

Workloads: iterate, corpus_scan, table_ingest (see README.md). The run
generates its inputs from the seed (cached under .perfbench/cache),
starts a worker process in a fresh temp, Spark-local and working
directory, samples the worker's process tree from /proc while it runs,
and prints a report whose last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones read from Spark's event log. The exit code is 0 only when
the run completed; it is 2 when the engine's sources are missing.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402

WORKLOADS = tuple(gen.PROFILES)
# local[2]: on a 4-vCPU box this leaves two vCPUs for the Python driver and
# the JVM's compiler and GC threads. The jobs here run one or two tasks per
# stage, so they lose nothing, and their latency then depends less on how the
# host schedules the vCPUs (measured: equal or faster than local[4], with
# lower steal).
MAX_CORES = 2
DRIVER_MEM_MB = 2048
RUN_LIMIT_S = 170.0  # the whole run, generation included
RSS_PERIOD_S = 0.1
CPU_PERIOD_S = 0.5


def cores_used() -> tuple[int, int]:
    n = len(os.sched_getaffinity(0))
    return min(MAX_CORES, n), n


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(DRIVER_MEM_MB, total_kb // 1024 // 4)


class Sampler(threading.Thread):
    """Samples the driver's RSS and the box's CPU shares."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.rss: list[tuple[float, int]] = []
        self.cpu: list[tuple[float, float]] = []
        self.stop_event = threading.Event()

    def run(self) -> None:
        last = stats.read_cpu_times()
        last_t = time.monotonic()
        while not self.stop_event.wait(RSS_PERIOD_S):
            self.rss.append((time.time(), stats.driver_rss_bytes(self.pid)))
            if time.monotonic() - last_t >= CPU_PERIOD_S:
                now = stats.read_cpu_times()
                frac = stats.cpu_fractions(last, now)
                if frac is not None:
                    self.cpu.append(frac)
                last, last_t = now, time.monotonic()


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2 :].split()
        if int(rest[2]) == pgid and rest[0] != "Z":
            return True
    return False


def stop_group(pgid: int, kill: bool) -> None:
    """Wait until every process of the group has ended. With `kill`, kill
    them first; otherwise give them time to exit, then signal them."""
    steps = [(signal.SIGKILL, 15.0)] if kill else [
        (None, 15.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)
    ]
    for sig, wait_s in steps:
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    for need in ("meta_iterative_mapreduce_spark/__init__.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    state = os.path.join(ROOT, ".perfbench")
    inputs, rows = gen.ensure_inputs(os.path.join(state, "cache"), args.workload, args.seed)

    run_dir = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    cores, nproc = cores_used()
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": inputs,
        "rows": rows,
        "run_dir": run_dir,
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        MIMR_DRIVER_MEM=f"{driver_mem_mb()}m",
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    for k in ("MIMR_SHUFFLE_PARTITIONS", "MIMR_TZ", "MIMR_AQE", "SPARK_GRAFT_SF_DIR"):
        env.pop(k, None)  # the engine's defaults, whatever the caller's shell says

    # a terminated launcher still stops the worker's processes (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=os.path.join(run_dir, "work"),
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    sampler = Sampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - T_START)))
    except subprocess.TimeoutExpired:
        print("perfbench: worker ran out of time", file=sys.stderr)
        code = None
    finally:
        sampler.stop_event.set()
        stop_group(proc.pid, kill=proc.returncode is None)
        proc.wait()
        sampler.join()
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(result_path) as f:
        result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    # the checks and the traced phase after the timed phase are not counted
    rss = [b for t, b in sampler.rss if t <= result["timed_end_epoch"]]
    e2e = report.end_to_end(result, max(rss, default=0))
    attempted, failed = report.counts(result)
    steal = [s for _i, s in sampler.cpu]
    idle = [i for i, _s in sampler.cpu]
    box = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores_used": cores,
        "nproc": nproc,
        "idle_frac": stats.median(idle) if idle else None,
        "steal_p90": stats.percentile(steal, 0.9) if steal else None,
        "spark": importlib.metadata.version("pyspark"),
        "pyarrow": importlib.metadata.version("pyarrow"),
        "python": platform.python_version(),
        "driver_mem_mb": driver_mem_mb(),
        "input_rows": rows,
    }
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("box " + json.dumps(box, sort_keys=True))
    for line in report.sample_lines(result, e2e, len(rss)):
        print(line)
    if args.trace:
        for line in report.span_table(result):
            print(line)
        layer = report.per_layer(result)
        for name, unit in report.per_layer_names():
            print(f"layer {name} {layer[name]:.6g} {unit}")
        metrics = {n: {"value": layer[n], "unit": u} for n, u in report.per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in report.END_TO_END}
    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    with open(
        os.path.join(state, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as f:
        json.dump({"box": box, "end_to_end": e2e, "worker": result}, f)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
