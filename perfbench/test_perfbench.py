"""Self-tests of the benchmark's own logic; no Spark needed.

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 0.9) == 90.0
    assert stats.percentile(xs, 0.5) == 50.0
    assert stats.percentile([3.0, 1.0, 2.0], 1.0) == 3.0
    assert stats.percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_median_even_and_odd():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_sample_count_rule():
    # p90 has ten samples beyond it only from 100 samples on
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.highest_supported_percentile(100) == 0.9
    assert stats.highest_supported_percentile(20) == 0.5
    assert stats.highest_supported_percentile(10) is None
    for n in (11, 37, 250):
        q = stats.highest_supported_percentile(n)
        assert stats.samples_beyond(n, q) >= 10
        assert stats.samples_beyond(n, q + 0.01) < 10


def test_union_length_counts_overlap_once():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 10), (5, 15)]) == 15
    assert stats.union_length([(0, 1), (2, 3), (2.5, 4)]) == 3
    assert stats.union_length([(0, 10), (2, 3)]) == 10
    assert stats.union_length([(5, 5), (7, 6)]) == 0
    assert stats.clipped_union_length([(-5, 3), (8, 20)], 0, 10) == 5


def _job(jid, start, end, stages, desc):
    props = {"spark.job.description": desc} if desc else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _stage(sid, ntasks, run_ms, task_ms):
    evs = [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
         "Task Info": {"Launch Time": 0, "Finish Time": t}}
        for t in task_ms
    ]
    evs.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": ntasks,
        "Accumulables": [
            {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
            {"Name": "time to run Python workers", "Value": "500"},
        ]}})
    return evs


def test_span_self_time_and_attribution():
    spans = [{"id": "0", "start_ms": 1000, "end_ms": 2000},
             {"id": "1", "start_ms": 3000, "end_ms": 3500}]
    events = (
        # two overlapping jobs of span 0, tagged by description
        _job(0, 1100, 1400, [0], "pb:0:x.f") + _stage(0, 2, 300, [100, 300])
        + _job(1, 1300, 1600, [0, 1], "pb:0:x.f") + _stage(1, 1, 200, [200])
        # an untagged job inside span 1 (a stream thread's job)
        + _job(2, 3100, 3200, [2], "id = q, batch = 0") + _stage(2, 1, 50, [50])
        # a job outside every span is ignored
        + _job(3, 2500, 2600, [3], None) + _stage(3, 1, 9, [9])
    )
    m = eventlog.span_metrics(events, spans)
    assert m["0"]["driver_self_ms"] == 1000 - 500
    assert (m["0"]["jobs"], m["0"]["stages"], m["0"]["tasks"]) == (2, 2, 3)
    assert m["0"]["executor_run_s"] == 0.5
    assert m["0"]["task_skew"] == 300 / 200
    assert m["0"]["python_worker_s"] == 1.0
    assert m["1"]["jobs"] == 1 and m["1"]["driver_self_ms"] == 400


SMALL = dict(
    customer=50, supplier=10, part=40, orders=200, lineitem=1_000, events=30,
    documents=40, embeddings=20, cc_nodes=120, dup_share=0.3, hot_share=0.2,
)


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    rows = gen.generate(a, 5, SMALL)
    assert gen.generate(b, 5, SMALL) == rows
    gen.generate(c, 6, SMALL)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _match, mismatch, _errors = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "lineitem.parquet" in mismatch
    assert rows["lineitem"] == 1_000 and rows["cc_edges"] == 120 - 3  # one root per 50-node tree


def test_generator_controls_duplicates_and_skew(tmp_path):
    import pyarrow.parquet as pq

    gen.generate(str(tmp_path), 1, dict(SMALL, documents=400, lineitem=20_000))
    li = pq.read_table(tmp_path / "lineitem.parquet").to_pandas()
    top = li["l_orderkey"].value_counts()
    # the hot keys carry about hot_share of the rows
    assert 0.15 < top.iloc[: gen.N_HOT_ORDERS].sum() / len(li) < 0.3
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    words = [set(t.split()) for t in docs["text"]]
    near = sum(
        any(len(w & v) / len(w | v) > 0.8 for v in words[:i]) for i, w in enumerate(words)
    )
    assert 0.2 < near / len(words) < 0.4


def test_ensure_inputs_caches_by_seed_and_sizes(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.PROFILES, "tiny", SMALL)
    d1, rows = gen.ensure_inputs(str(tmp_path), "tiny", 3)
    mtime = os.path.getmtime(os.path.join(d1, "lineitem.parquet"))
    d2, rows2 = gen.ensure_inputs(str(tmp_path), "tiny", 3)
    assert (d1, rows) == (d2, rows2)
    assert os.path.getmtime(os.path.join(d2, "lineitem.parquet")) == mtime
    d3, _ = gen.ensure_inputs(str(tmp_path), "tiny", 4)
    assert d3 != d1
