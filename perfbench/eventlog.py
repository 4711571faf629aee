"""Per-layer metrics from Spark's own event log.

The traced run enables `spark.eventLog.enabled` and wraps every call the
benchmark makes into a module's public function in one span: the span
sets the job description `pb:<span id>:<layer>.<function>` and records
its own start and end on the wall clock. This module reads the log the
session wrote and attributes every Spark job to the span it ran in: by
the job description when the job carries it, otherwise (jobs started by
a streaming query's own thread) by the span whose interval holds the
job's submission time. Only one span is open at a time, because the
benchmark is a closed loop with one client.

Stage totals come from the stage's accumulables (the task metrics Spark
sums per stage, plus the SQL metrics of the Python-worker operators);
task skew comes from the task end events.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa

from stats import clipped_union_length, median

SPAN_PREFIX = "pb:"

_PY_TIME = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
_PY_OUT = "data sent to Python workers"
_PY_IN = "data returned from Python workers"

# per-span metric names, in report order
SPAN_METRICS = (
    "wall_ms",
    "driver_self_ms",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "task_skew",
    "python_worker_s",
    "python_bytes_out",
    "python_bytes_in",
)


def _event_files(log_dir: str) -> list[str]:
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith(("events_", "local-", "app-")) and not f.endswith(
                (".inprogress", ".crc")
            ):
                found.append(os.path.join(root, f))

    def order(path: str) -> tuple:
        name = os.path.basename(path)
        parts = name.split("_")
        # rolling logs: events_<index>_<appid>[.codec]
        idx = int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), idx)

    return sorted(found, key=order)


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under `log_dir`, in order.
    Logs are zstd (Spark's default codec) or uncompressed."""
    files = _event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    events = []
    for path in files:
        with open(path, "rb") as f:
            if path.endswith(".zstd"):
                data = pa.CompressedInputStream(f, "zstd").read()
            elif "." in os.path.basename(path).split("_")[-1]:
                raise ValueError(f"unsupported event log codec: {path}")
            else:
                data = f.read()
        for line in data.decode("utf-8").splitlines():
            if line:
                events.append(json.loads(line))
    return events


def _acc_value(acc: dict) -> float:
    v = acc.get("Value", 0)
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _stage_totals(stage_info: dict) -> dict[str, float]:
    tot: dict[str, float] = {}
    for acc in stage_info.get("Accumulables", []):
        name = acc.get("Name", "")
        tot[name] = tot.get(name, 0.0) + _acc_value(acc)
    return tot


def span_metrics(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """{span id: metrics} for spans given as dicts with `id`, `start_ms`
    and `end_ms` (epoch milliseconds)."""
    by_id = {s["id"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: s["start_ms"])

    def owner(desc: str | None, t_ms: float) -> str | None:
        if desc and desc.startswith(SPAN_PREFIX):
            sid = desc[len(SPAN_PREFIX):].split(":", 1)[0]
            if sid in by_id:
                return sid
        for s in ordered:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                return s["id"]
        return None

    job_span: dict[int, str] = {}
    job_iv: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_tot: dict[int, dict] = {}
    stage_ntasks: dict[int, int] = {}
    task_times: dict[int, list[float]] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sid = owner(props.get("spark.job.description"), e["Submission Time"])
            if sid is None:
                continue
            jid = e["Job ID"]
            job_span[jid] = sid
            job_iv[jid] = [e["Submission Time"], e["Submission Time"]]
            for st in e.get("Stage IDs", []):
                # a stage runs in the first job that lists it; later jobs
                # list it again only as skipped
                stage_job.setdefault(st, jid)
        elif ev == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_iv:
                job_iv[jid][1] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = info["Stage ID"]
            stage_tot[st] = _stage_totals(info)
            stage_ntasks[st] = int(info.get("Number of Tasks", 0))
        elif ev == "SparkListenerTaskEnd":
            ti = e.get("Task Info", {})
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            task_times.setdefault(e["Stage ID"], []).append(float(dur))

    out: dict[str, dict] = {}
    for s in spans:
        jobs = [j for j, sid in job_span.items() if sid == s["id"]]
        stages = [
            st for st, j in stage_job.items() if j in set(jobs) and st in stage_tot
        ]
        tot: dict[str, float] = {}
        for st in stages:
            for k, v in stage_tot[st].items():
                tot[k] = tot.get(k, 0.0) + v
        wall = s["end_ms"] - s["start_ms"]
        busy = clipped_union_length(
            [tuple(job_iv[j]) for j in jobs], s["start_ms"], s["end_ms"]
        )
        skew = 1.0
        for st in stages:
            times = task_times.get(st, [])
            if len(times) >= 2:
                skew = max(skew, max(times) / max(median(times), 1.0))
        g = tot.get
        out[s["id"]] = {
            "wall_ms": wall,
            "driver_self_ms": wall - busy,
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(stage_ntasks.get(st, 0) for st in stages),
            "executor_run_s": g("internal.metrics.executorRunTime", 0.0) / 1e3,
            "executor_cpu_s": g("internal.metrics.executorCpuTime", 0.0) / 1e9,
            "gc_s": g("internal.metrics.jvmGCTime", 0.0) / 1e3,
            "shuffle_write_bytes": g("internal.metrics.shuffle.write.bytesWritten", 0.0),
            "shuffle_read_bytes": g("internal.metrics.shuffle.read.localBytesRead", 0.0)
            + g("internal.metrics.shuffle.read.remoteBytesRead", 0.0),
            "spill_bytes": g("internal.metrics.diskBytesSpilled", 0.0),
            "task_skew": skew,
            "python_worker_s": sum(g(k, 0.0) for k in _PY_TIME) / 1e3,
            "python_bytes_out": g(_PY_OUT, 0.0),
            "python_bytes_in": g(_PY_IN, 0.0),
        }
    return out
