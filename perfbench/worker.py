"""One benchmark run inside the environment run.py prepared for it.

Usage: python3 perfbench/worker.py <config.json>   (run.py starts it)

Phases, in order:
1. set-up: start the session, register the workload's sources and
   views, and call each distinct job once untimed (`setup_s`);
2. the timed phase: whole cycles of jobs, one at a time (a closed loop
   with one client), until at least `seconds` have passed;
3. the output checks;
4. with tracing on, a session with Spark's event log enabled runs the
   timed phase again, every job inside a span; then a session without
   the event log runs it once more, for the tracing overhead.
The result goes to <run dir>/result.json for run.py to report.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = {
    "iterate": workloads.Iterate,
    "corpus_scan": workloads.CorpusScan,
    "table_ingest": workloads.TableIngest,
}


def log(msg: str) -> None:
    print(f"perfbench worker {time.perf_counter() - T_START:8.2f}s {msg}", file=sys.stderr, flush=True)


def run_job(spark, wl, job, span_id: str | None = None, clear: bool = True) -> dict:
    rec = {"name": job.name, "kind": job.kind, "ok": True, "rounds": 1, "rows": 0}
    if job.prepare is not None:
        job.prepare()
    wl.before(job, rec, tracing=span_id is not None)
    sc = spark.sparkContext
    if span_id is not None:
        sc.setJobDescription(f"{eventlog.SPAN_PREFIX}{span_id}:{job.name}")
        rec["id"], rec["start_ms"] = span_id, time.time() * 1e3
    out = None
    t0 = time.perf_counter()
    try:
        out = job.run(spark)
    except Exception:  # a failed job is counted, and the loop goes on
        traceback.print_exc()
        rec["ok"] = False
    rec["wall_s"] = time.perf_counter() - t0
    if span_id is not None:
        rec["end_ms"] = time.time() * 1e3
        sc.setJobDescription(None)
    if out is not None:
        rec.update(rounds=out.rounds, rows=out.rows, build_s=out.build_s, output=out.value)
    wl.observe(job, out, rec)
    if clear:
        spark.catalog.clearCache()
    return rec


def timed_loop(spark, wl, seconds: float, traced: bool) -> tuple[list[dict], int, float]:
    """Whole cycles until `seconds` have passed: (records, cycles, wall)."""
    records: list[dict] = []
    t0 = time.perf_counter()
    cycle = 0
    while True:
        for job in wl.cycle():
            span = str(len(records)) if traced else None
            records.append(run_job(spark, wl, job, span))
        cycle += 1
        if time.perf_counter() - t0 >= seconds:
            return records, cycle, time.perf_counter() - t0


def setup_once(get_spark, wl, t0: float, extra_conf: dict | None = None):
    spark = get_spark("perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    wl.setup(spark)
    t2 = time.perf_counter()
    # untimed, so independent warm-up chains may overlap: one thread each
    chains = wl.warmup_chains()
    with ThreadPoolExecutor(len(chains)) as pool:
        done = pool.map(lambda c: [run_job(spark, wl, j, clear=False) for j in c], chains)
        warm = [r for chain in done for r in chain]
    spark.catalog.clearCache()
    t3 = time.perf_counter()
    times = {"total_s": t3 - t0, "session_s": t1 - t0, "load_s": t2 - t1, "warmup_s": t3 - t2}
    return spark, times, [r for r in warm if not r["ok"]]


def strip(records: list[dict]) -> list[dict]:
    return [{k: v for k, v in r.items() if k != "output"} for r in records]


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    from meta_iterative_mapreduce_spark.session import get_spark

    wl = WORKLOADS[cfg["workload"]](cfg["inputs"], cfg["rows"], cfg["seed"], cfg["run_dir"])
    spark, times, failed = setup_once(get_spark, wl, T_START)
    log(f"set-up: {times}")
    result: dict = {"setup": times, "warmup_failures": strip(failed)}

    result["timed_start_epoch"] = time.time()
    records, cycles, wall = timed_loop(spark, wl, cfg["seconds"], traced=False)
    result["timed_end_epoch"] = time.time()
    log(f"timed phase: {len(records)} jobs in {cycles} cycles, {wall:.2f} s")
    result["verify"] = wl.verify(spark, records)
    log(f"checks: {sum(not r['ok'] for r in records)} wrong or failed")
    result.update(records=strip(records), cycles=cycles, timed_wall_s=wall)
    spark.stop()
    wl.teardown()

    if cfg["trace"]:
        log_dir = os.path.join(cfg["run_dir"], "eventlog")
        os.makedirs(log_dir)
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}"}
        spark, _times, _failed = setup_once(get_spark, wl, time.perf_counter(), conf)
        trecs, _, _ = timed_loop(spark, wl, cfg["seconds"], traced=True)
        result["trace_extras"] = wl.trace_extras(spark, trecs)
        spark.stop()
        wl.teardown()
        log(f"traced phase: {len(trecs)} jobs")
        spans = [r for r in trecs if "id" in r]
        result["span_metrics"] = eventlog.span_metrics(eventlog.read_events(log_dir), spans)
        # the same phase untraced, in the same position after a fresh
        # set-up, for the tracing overhead
        spark, _times, _failed = setup_once(get_spark, wl, time.perf_counter())
        urecs, _, _ = timed_loop(spark, wl, cfg["seconds"], traced=False)
        spark.stop()
        wl.teardown()
        result.update(trace_records=strip(trecs), untraced_records=strip(urecs))

    with open(os.path.join(cfg["run_dir"], "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
