"""Metric definitions: from a worker result to the reported numbers.

End-to-end metrics come from the untimed set-ups and the timed phase;
per-layer metrics from the traced phase's spans (see eventlog.py).
"""

from __future__ import annotations

from eventlog import SPAN_METRICS
from stats import highest_supported_percentile, median, percentile, samples_beyond
from workloads import COMMIT_KINDS

# (name, unit) in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s"),
    ("job_p50_s", "s"),
    ("job_p90_s", "s"),
    ("rows_per_s", "rows/s"),
    ("round_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
)

# modules a span can be named after
LAYERS = (
    "regression",
    "clustering",
    "components",
    "dedup",
    "text",
    "plans",
    "pipeline",
    "versioned",
    "table_source",
)
ITERATIVE_LAYERS = ("regression", "clustering", "components")
# the layers whose jobs cross the Python-worker boundary
PYTHON_LAYERS = ("versioned", "table_source")
CORE_SPAN_METRICS = (
    ("driver_self_ms", "ms"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("task_skew", "ratio"),
)
PYTHON_SPAN_METRICS = (
    ("python_worker_s", "s"),
    ("python_bytes_out", "bytes"),
    ("python_bytes_in", "bytes"),
)
WORKLOAD_LAYER_METRICS = (
    ("build_ms", "ms"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.confirmed_pairs", "count"),
    ("dedup.candidate_precision", "ratio"),
    ("versioned.commit_ms.append", "ms"),
    ("versioned.commit_ms.merge", "ms"),
    ("versioned.commit_ms.delete", "ms"),
    ("versioned.bytes_written_per_user_byte", "ratio"),
    ("versioned.files_selected_ratio", "ratio"),
    ("table_source.lifecycle_s", "s"),
    ("table_source.batches", "count"),
    ("write_p50_s", "s"),
    ("write_p90_s", "s"),
    ("storage_amp", "ratio"),
)


def per_layer_names() -> list[tuple[str, str]]:
    out = [("session.start_s", "s"), ("io.load_s", "s"), ("trace.overhead_ms", "ms")]
    for layer in LAYERS:
        out += [(f"{layer}.{m}", u) for m, u in CORE_SPAN_METRICS]
        if layer in PYTHON_LAYERS:
            out += [(f"{layer}.{m}", u) for m, u in PYTHON_SPAN_METRICS]
        if layer in ITERATIVE_LAYERS:
            out += [(f"{layer}.rounds", "count"), (f"{layer}.round_driver_self_ms", "ms")]
    return out + list(WORKLOAD_LAYER_METRICS)


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(result: dict, peak_rss_bytes: int) -> dict[str, float]:
    recs = result["records"]
    walls = [r["wall_s"] for r in recs]
    return {
        "setup_s": result["setup"]["total_s"],
        "job_p50_s": median(walls),
        "job_p90_s": percentile(walls, 0.9),
        "rows_per_s": sum(r["rows"] for r in recs) / result["timed_wall_s"],
        # a job that ran no rounds (failed) counts as one
        "round_p50_ms": median([1e3 * r["wall_s"] / max(1, r["rounds"]) for r in recs]),
        "peak_rss_mb": peak_rss_bytes / 2**20,
    }


def counts(result: dict) -> tuple[int, int]:
    """(attempted, failed): timed jobs plus failed warm-up calls; a job
    fails when it raises or its output is wrong."""
    recs = result["records"]
    warm = len(result["warmup_failures"])
    return len(recs) + warm, sum(not r["ok"] for r in recs) + warm


def write_metrics(result: dict) -> dict[str, float]:
    walls = [r["wall_s"] for r in result["records"] if r["kind"] in COMMIT_KINDS]
    out = {"write_p50_s": 0.0, "write_p90_s": 0.0}
    if walls:
        out = {"write_p50_s": median(walls), "write_p90_s": percentile(walls, 0.9)}
    out["storage_amp"] = result["verify"].get("storage_amp", 0.0)
    return out


def per_layer(result: dict) -> dict[str, float]:
    recs = result["trace_records"]
    spans = result["span_metrics"]
    out = {
        "session.start_s": result["setup"]["session_s"],
        "io.load_s": result["setup"]["load_s"],
        "trace.overhead_ms": 1e3
        * (_mean([r["wall_s"] for r in recs]) - _mean([r["wall_s"] for r in result["untraced_records"]])),
    }
    for layer in LAYERS:
        mine = [r for r in recs if r["name"].split(".", 1)[0] == layer and r["id"] in spans]
        ms = [spans[r["id"]] for r in mine]
        for m, _u in CORE_SPAN_METRICS + (PYTHON_SPAN_METRICS if layer in PYTHON_LAYERS else ()):
            vals = [s[m] for s in ms]
            # task skew is a ratio per span: the median span; the rest
            # are per-call means
            out[f"{layer}.{m}"] = (median(vals) if vals else 0.0) if m == "task_skew" else _mean(vals)
        if layer in ITERATIVE_LAYERS:
            rounds = sum(r["rounds"] for r in mine)
            out[f"{layer}.rounds"] = _mean([r["rounds"] for r in mine])
            out[f"{layer}.round_driver_self_ms"] = (
                sum(s["driver_self_ms"] for s in ms) / rounds if rounds else 0.0
            )
    builds = [1e3 * r["build_s"] for r in recs if r.get("build_s") is not None]
    out["build_ms"] = median(builds) if builds else 0.0
    for name, _u in WORKLOAD_LAYER_METRICS:
        out.setdefault(name, 0.0)
    out.update(result.get("trace_extras", {}))
    out.update(write_metrics(result))
    return out


def sample_lines(result: dict, e2e: dict, rss_samples: int) -> list[str]:
    """Every end-to-end metric of the issue by name, unit and sample
    count, including those defined on one workload only."""
    recs = result["records"]
    n = len(recs)
    tail = samples_beyond(n, 0.9)
    hp = highest_supported_percentile(n)
    rule = (
        f"p{round(hp * 100)} is the highest percentile with 10 samples beyond it"
        if hp
        else "fewer than 11 samples: no percentile has 10 beyond it"
    )
    attempted, failed = counts(result)
    w = write_metrics(result)
    n_w = sum(r["kind"] in COMMIT_KINDS for r in recs)
    lines = [
        f"setup_s       {e2e['setup_s']:.4f} s       n=1 set-up",
        f"job_p50_s     {e2e['job_p50_s']:.4f} s       n={n} jobs in {result['cycles']} cycles",
        f"job_p90_s     {e2e['job_p90_s']:.4f} s       n={n}, {tail} beyond p90; {rule}",
        f"rows_per_s    {e2e['rows_per_s']:.1f} rows/s  over {result['timed_wall_s']:.2f} s timed",
        f"round_p50_ms  {e2e['round_p50_ms']:.2f} ms     n={n} jobs, "
        f"{sum(r['rounds'] for r in recs)} rounds",
        f"peak_rss_mb   {e2e['peak_rss_mb']:.1f} MB      n={rss_samples} /proc samples",
        f"fail_frac     {failed / attempted:.4f} ratio   {failed} of {attempted} jobs",
    ]
    if n_w:
        lines += [
            f"write_p50_s   {w['write_p50_s']:.4f} s       n={n_w} commits",
            f"write_p90_s   {w['write_p90_s']:.4f} s       n={n_w} commits",
            f"storage_amp   {w['storage_amp']:.3f} ratio   final version",
        ]
    return lines


def span_table(result: dict) -> list[str]:
    """The per-layer table: one row per span name, per-call means."""
    spans = result["span_metrics"]
    by_name: dict[str, list[dict]] = {}
    for r in result["trace_records"]:
        if r["id"] in spans:
            by_name.setdefault(r["name"], []).append(spans[r["id"]])
    lines = ["span calls " + " ".join(SPAN_METRICS)]
    for name, ms in sorted(by_name.items()):
        vals = " ".join(f"{_mean([m[c] for m in ms]):.4g}" for c in SPAN_METRICS)
        lines.append(f"{name} {len(ms)} {vals}")
    return lines
