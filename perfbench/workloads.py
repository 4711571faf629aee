"""The benchmark's three workloads and their output checks.

Each workload gives the worker
- `setup(spark)`: register its sources and views (timed as `io.load_s`);
- `warmup_chains()`: one job of each kind, for the untimed warm-up;
- `cycle()`: the jobs of one timed cycle;
- `verify(spark, records)`: check every timed job's output against a
  reference computed outside Spark, marking wrong ones;
- `trace_extras(spark, records)`: layer counters for the traced run.

A job is one call into a module's public function, materialized by a
collect. Its span name is `<layer>.<function>`, where the layer is the
module's name (`plans` for everything under `plans/`).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# A job that runs a non-iterative operator counts as one round.
ONE_ROUND = 1


@dataclass
class Outcome:
    value: Any = None
    rounds: int = ONE_ROUND
    rows: int = 0
    build_s: float | None = None
    info: dict = field(default_factory=dict)


@dataclass
class Job:
    name: str  # "<layer>.<function>"
    kind: str  # what the output check and the write metrics key on
    run: Callable[[Any], Outcome]
    prepare: Callable[[], None] | None = None


class Workload:
    """Hooks the worker calls around every job; the defaults do nothing."""

    def _jobs(self) -> list[Job]:
        raise NotImplementedError

    def cycle(self) -> list[Job]:
        """The jobs of one timed cycle: each distinct job once, always in
        the same order, so that a job's latency does not depend on the
        seed through its position. The seed changes only the data."""
        return self._jobs()

    def warmup_chains(self) -> list[list[Job]]:
        """One call of each distinct job, as chains that share no state;
        the warm-up runs the chains at once. By default every job is its
        own chain."""
        return [[job] for job in self._jobs()]

    def teardown(self) -> None:
        pass

    def before(self, job: Job, rec: dict, tracing: bool) -> None:
        """Runs after job.prepare, outside the job's timing and span."""

    def observe(self, job: Job, out: Outcome | None, rec: dict) -> None:
        """Runs right after the job, outside its timing and span."""

    def trace_extras(self, spark, records: list[dict]) -> dict:
        return {}


def layer_of(fn: Callable) -> str:
    mod = fn.__module__
    return "plans" if ".plans." in mod else mod.rsplit(".", 1)[-1]


def span_name(fn: Callable) -> str:
    return f"{layer_of(fn)}.{fn.__name__}"


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# iterate: the paper's loops on ~5·10^4 rows
# ---------------------------------------------------------------------------

FIT_ROUNDS = 3  # batches (months) fitted per regression job
FIT_CHUNKS = 8
FIT_EPS = 1e-12  # never reached on noisy data: every job runs FIT_ROUNDS
KMEANS_K = 4
KMEANS_ITERS = 2
PAGERANK_ITERS = 2
PAGERANK_DAMPING = 0.85


class Iterate(Workload):
    def __init__(self, inputs: str, rows: dict, seed: int, run_dir: str):
        self.inputs, self.rows, self.seed = inputs, rows, seed
        emb = pq.read_table(os.path.join(inputs, "embeddings.parquet"))
        vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        self.vectors = vecs
        self.init_centers = [list(map(float, v)) for v in vecs[:KMEANS_K]]
        self._ref: dict[str, Any] = {}

    def setup(self, spark) -> None:
        from meta_iterative_mapreduce_spark.io import load_table

        self.lineitem = load_table(spark, self.inputs, "lineitem")
        self.embeddings = load_table(spark, self.inputs, "embeddings")
        self.edges = spark.read.parquet(os.path.join(self.inputs, "cc_edges.parquet"))

    def _jobs(self) -> list[Job]:
        from pyspark.sql import functions as F

        from meta_iterative_mapreduce_spark.operators import (
            clustering,
            components,
            regression,
        )

        rows = self.rows

        def fit(spark) -> Outcome:
            r = regression.iterative_fit_loop(
                self.lineitem,
                "l_quantity",
                "l_extendedprice",
                batch=F.year("l_shipdate") * 100 + F.month("l_shipdate"),
                chunk=F.col("l_orderkey") % FIT_CHUNKS,
                eps=FIT_EPS,
                max_iter=FIT_ROUNDS,
            )
            return Outcome(r, rounds=r.n_iters, rows=rows["lineitem"])

        def kmeans(spark) -> Outcome:
            r = clustering.kmeans(
                self.embeddings, "embedding", self.init_centers, KMEANS_ITERS
            )
            return Outcome(r, rounds=r.n_iters, rows=rows["embeddings"])

        def cc(spark) -> Outcome:
            rounds = []
            out = components.connected_components(
                self.edges, on_round=lambda i, n, s: rounds.append(i)
            ).collect()
            return Outcome(
                {r["node"]: r["component_id"] for r in out},
                rounds=len(rounds),
                rows=rows["cc_edges"],
            )

        def pagerank(spark) -> Outcome:
            edges = components.copurchase_edges(spark, self.inputs)
            ranks, n = components.pagerank(
                edges, n_iter=PAGERANK_ITERS, damping=PAGERANK_DAMPING
            )
            out = ranks.collect()
            return Outcome(
                ({r["u"]: r["pr"] for r in out}, n),
                rounds=PAGERANK_ITERS,
                rows=rows["lineitem"],
            )

        return [
            Job(span_name(regression.iterative_fit_loop), "fit", fit),
            Job(span_name(clustering.kmeans), "kmeans", kmeans),
            Job(span_name(components.connected_components), "cc", cc),
            Job(span_name(components.pagerank), "pagerank", pagerank),
        ]

    # -- references -------------------------------------------------------

    def _reference(self, kind: str) -> Any:
        if kind not in self._ref:
            self._ref[kind] = getattr(self, f"_ref_{kind}")()
        return self._ref[kind]

    def _ref_fit(self) -> tuple[float, float, int]:
        li = pq.read_table(
            os.path.join(self.inputs, "lineitem.parquet"),
            columns=["l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"],
        ).to_pandas()
        ts = li["l_shipdate"]
        li["batch"] = ts.dt.year * 100 + ts.dt.month
        li["chunk"] = li["l_orderkey"] % FIT_CHUNKS
        w0 = w1 = None
        n_iters = 0
        for _b, g in sorted(li.groupby("batch"), key=lambda kv: kv[0]):
            if n_iters >= FIT_ROUNDS:
                break
            fits = []
            for _c, h in g.groupby("chunk"):
                x, y = h["l_quantity"].to_numpy(), h["l_extendedprice"].to_numpy()
                vx = ((x - x.mean()) ** 2).mean()
                if len(x) < 2 or vx == 0:
                    continue
                slope = ((x - x.mean()) * (y - y.mean())).mean() / vx
                fits.append((y.mean() - slope * x.mean(), slope))
            if not fits:
                continue
            f0, f1 = np.mean([f[0] for f in fits]), np.mean([f[1] for f in fits])
            n_iters += 1
            if w0 is None:
                w0, w1 = f0, f1
            else:
                w0, w1 = 0.2 * w0 + 0.8 * f0, 0.2 * w1 + 0.8 * f1
        return w0, w1, n_iters

    def _ref_kmeans(self) -> np.ndarray:
        v = self.vectors
        c = np.array(self.init_centers)
        for _ in range(KMEANS_ITERS):
            score = -2.0 * v @ c.T + (c * c).sum(axis=1)
            assign = score.argmin(axis=1)
            for j in range(len(c)):
                members = v[assign == j]
                if len(members):
                    c[j] = members.mean(axis=0)
        return c

    def _ref_cc(self) -> dict[int, int]:
        e = pq.read_table(os.path.join(self.inputs, "cc_edges.parquet")).to_pandas()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in zip(e["u"].tolist(), e["v"].tolist()):
            if u == v:
                continue
            a, b = find(u), find(v)
            if a != b:
                parent[max(a, b)] = min(a, b)
        comp: dict[int, int] = {}
        for x in list(parent):
            r = find(x)
            comp[r] = min(comp.get(r, r), x)
        return {x: comp[find(x)] for x in parent}

    def _ref_pagerank(self) -> tuple[dict[int, float], int]:
        li = pq.read_table(
            os.path.join(self.inputs, "lineitem.parquet"),
            columns=["l_orderkey", "l_partkey"],
        ).to_pandas().drop_duplicates()
        pairs = li.merge(li, on="l_orderkey")
        pairs = pairs[pairs["l_partkey_x"] != pairs["l_partkey_y"]]
        e = pairs[["l_partkey_x", "l_partkey_y"]].drop_duplicates()
        e.columns = ["u", "v"]
        deg = e.groupby("u").size()
        n = len(deg)
        pr = pd.Series(1.0 / n, index=deg.index)
        for _ in range(PAGERANK_ITERS):
            c = e.assign(c=(pr / deg).reindex(e["u"]).to_numpy())
            pr = 0.15 / n + PAGERANK_DAMPING * c.groupby("v")["c"].sum()
        return pr.to_dict(), n

    def _check(self, kind: str, value: Any) -> bool:
        ref = self._reference(kind)
        if kind == "fit":
            w0, w1, n_iters = ref
            return (
                value.n_iters == n_iters
                and not value.converged
                and np.isclose(value.w0, w0, rtol=1e-6, atol=1e-6)
                and np.isclose(value.w1, w1, rtol=1e-6, atol=1e-6)
            )
        if kind == "kmeans":
            got = np.array(value.centers)
            return got.shape == ref.shape and np.allclose(got, ref, rtol=1e-9, atol=1e-9)
        if kind == "cc":
            return value == ref
        if kind == "pagerank":
            got, n = value
            want, n_ref = ref
            return (
                n == n_ref
                and got.keys() == want.keys()
                and all(np.isclose(got[k], want[k], rtol=1e-9, atol=0.0) for k in want)
            )
        raise KeyError(kind)

    def verify(self, spark, records: list[dict]) -> dict:
        for r in records:
            if r["ok"]:
                r["ok"] = bool(self._check(r["kind"], r["output"]))
        return {}


# ---------------------------------------------------------------------------
# corpus_scan: registry queries over generated documents and TPC-H tables
# ---------------------------------------------------------------------------

# Left out, because most of their wall time is driver work, which this
# workload is meant not to have: q_pipeline_corpus_clean (its near-duplicate
# components run a connected-components driver loop; iterate measures that
# loop) and q_dedup_simhash (its 60-aggregate plan is analysed on the
# driver for most of the call).
CORPUS_QUERIES = (
    "q_dedup_near_minhash",
    "q_text_tfidf",
    "q_tpch_q3_shape",
    "q_tpch_q18_shape",
    "q_agg_count_distinct",
)
# fixture tables each query reads, for rows_per_s
CORPUS_INPUTS = {
    "q_dedup_near_minhash": ("documents",),
    "q_text_tfidf": ("documents",),
    "q_tpch_q3_shape": ("customer", "orders", "lineitem"),
    "q_tpch_q18_shape": ("customer", "orders", "lineitem"),
    "q_agg_count_distinct": ("lineitem",),
}
# exact shingle Jaccard at which a minhash candidate pair counts as a
# confirmed near-duplicate
CONFIRM_JACCARD = 0.5


class CorpusScan(Workload):
    def __init__(self, inputs: str, rows: dict, seed: int, run_dir: str):
        self.inputs, self.rows, self.seed = inputs, rows, seed

    def setup(self, spark) -> None:
        from meta_iterative_mapreduce_spark.io import register_views

        register_views(spark, self.inputs)

    def _jobs(self) -> list[Job]:
        from meta_iterative_mapreduce_spark import registry

        qs = registry.queries()
        jobs = []
        for name in CORPUS_QUERIES:
            fn = qs[name]
            n_rows = sum(self.rows[t] for t in CORPUS_INPUTS[name])

            def run(spark, fn=fn, n_rows=n_rows) -> Outcome:
                t0 = time.perf_counter()
                df = fn(spark, self.inputs)
                built = time.perf_counter() - t0
                return Outcome(df.toPandas(), rows=n_rows, build_s=built)

            jobs.append(Job(span_name(fn), name, run))
        return jobs

    def verify(self, spark, records: list[dict]) -> dict:
        from meta_iterative_mapreduce_spark import registry
        from tools.check import compare, duck_con

        oracles = registry.oracle_sql()
        con = duck_con(self.inputs)
        try:
            want = {
                name: con.execute(oracles[name]).fetchdf()
                for name in {r["kind"] for r in records}
            }
        finally:
            con.close()
        for r in records:
            if r["ok"]:
                problems = compare(r["kind"], r["output"], want[r["kind"]])
                if problems:
                    print(f"wrong output from {r['kind']}: {problems}", file=sys.stderr)
                r["ok"] = not problems
        return {}

    def trace_extras(self, spark, records: list[dict]) -> dict:
        """Minhash candidate pairs, and how many of them an exact
        shingle Jaccard confirms."""
        from pyspark.sql import functions as F

        from meta_iterative_mapreduce_spark.io import load_table
        from meta_iterative_mapreduce_spark.operators import dedup

        docs = load_table(spark, self.inputs, "documents")
        sigs = dedup.minhash_signatures(docs).persist()
        try:
            cand = dedup.minhash_band_pairs(sigs).select("doc_a", "doc_b")
            exact = dedup.shingle_jaccard_pairs(spark, self.inputs)
            row = (
                cand.join(exact, ["doc_a", "doc_b"], "left")
                .agg(
                    F.count(F.lit(1)).alias("cand"),
                    F.count(F.when(F.col("jaccard") >= CONFIRM_JACCARD, 1)).alias("conf"),
                )
                .collect()[0]
            )
        finally:
            sigs.unpersist()
            spark.catalog.clearCache()
        n_cand, n_conf = int(row["cand"]), int(row["conf"])
        return {
            "dedup.candidate_pairs": float(n_cand),
            "dedup.confirmed_pairs": float(n_conf),
            "dedup.candidate_precision": n_conf / n_cand if n_cand else 0.0,
        }


# ---------------------------------------------------------------------------
# table_ingest: commits beside reads on a versioned table, and a stream
# ---------------------------------------------------------------------------

KEY = "o_orderkey"
APPEND_ROWS = 2_000
MERGE_ROWS = 1_000  # half matched keys, half new keys
MERGE_RECENT = 5_000  # matched keys come from the most recent live keys
DELETE_RANGE = 400  # keys removed from the latest append by each copy-on-write delete
READ_RANGE = 5_000  # key range of each predicate read
FEED_ROWS = 500
BASE_FILES = 8
# commit jobs on the versioned table, and on the feed the stream drains
TABLE_COMMITS = ("append", "merge", "delete_cow", "delete_dv")
COMMIT_KINDS = (*TABLE_COMMITS, "feed_append")


class TableIngest(Workload):
    def __init__(self, inputs: str, rows: dict, seed: int, run_dir: str):
        self.inputs, self.rows, self.seed = inputs, rows, seed
        self.root = os.path.join(run_dir, "tables")
        self.n_cust = int(rows["customer"])
        self.generation = -1
        self.st: dict[str, Any] = {}

    def setup(self, spark) -> None:
        """A fresh versioned table from `orders`, a fresh append-only
        feed from `events`, and the stream source registered."""
        from meta_iterative_mapreduce_spark.sources import versioned as V
        from meta_iterative_mapreduce_spark.streaming.table_source import (
            register_stream_source,
        )

        self.generation += 1
        base_dir = os.path.join(self.root, str(self.generation))
        self.table = os.path.join(base_dir, "facts")
        self.feed = os.path.join(base_dir, "feed")
        self.sink = os.path.join(base_dir, "sink")
        self.ckpt = os.path.join(base_dir, "ckpt")
        self.batch_dir = os.path.join(base_dir, "batches")
        os.makedirs(self.batch_dir)
        orders = os.path.join(self.inputs, "orders.parquet")
        events = os.path.join(self.inputs, "events.parquet")
        with ThreadPoolExecutor(2) as pool:
            writes = [
                pool.submit(V.write_version, spark.read.parquet(orders)
                            .repartitionByRange(BASE_FILES, KEY), self.table),
                pool.submit(V.write_version, spark.read.parquet(events).coalesce(1), self.feed),
            ]
            for w in writes:
                w.result()
        register_stream_source(spark)
        self.model = pq.read_table(orders).to_pandas().set_index(KEY, drop=False)
        self.model.index.name = None
        self.next_key = int(self.model[KEY].max()) + 1
        self.feed_ids = list(range(int(self.rows["events"])))
        self.next_event = len(self.feed_ids)
        self.drained = 0
        self.calls: dict[str, int] = {}

    def teardown(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def _rng(self, tag: str) -> np.random.Generator:
        """The next random stream for `tag`. Each tag belongs to one warm-up
        chain, so the streams do not depend on how the chains interleave."""
        n = self.calls[tag] = self.calls.get(tag, 0) + 1
        return gen._rng(self.seed, f"ingest-{self.generation}-{tag}-{n}")

    def _batch(self, table: pa.Table, tag: str) -> str:
        path = os.path.join(self.batch_dir, f"{tag}-{self.calls[tag]:05d}.parquet")
        gen.write_table(table, path)
        return path

    def _model_upsert(self, rows: pd.DataFrame) -> None:
        rows = rows.set_index(KEY, drop=False)
        rows.index.name = None
        self.model = pd.concat([self.model.drop(rows.index, errors="ignore"), rows])

    # -- jobs: prepare (untimed) → run (timed) → observe (untimed) ----------

    def _jobs(self) -> list[Job]:
        from pyspark.sql import functions as F

        from meta_iterative_mapreduce_spark.sources import versioned as V
        from meta_iterative_mapreduce_spark.streaming import table_source as TS

        st = self.st

        def prep_append() -> None:
            rng = self._rng("append")
            keys = np.arange(self.next_key, self.next_key + APPEND_ROWS)
            self.next_key += APPEND_ROWS
            t = gen.orders_rows(rng, keys, self.n_cust)
            st["append"] = (self._batch(t, "append"), t)

        def append(spark) -> Outcome:
            path, t = st["append"]
            v = V.append_version(spark.read.parquet(path), self.table)
            return Outcome(v, rows=t.num_rows, info={"user_bytes": t.nbytes})

        def prep_merge() -> None:
            rng = self._rng("merge")
            recent = np.sort(self.model.index.to_numpy())[-MERGE_RECENT:]
            old = rng.choice(recent, MERGE_ROWS // 2, replace=False)
            new = np.arange(self.next_key, self.next_key + MERGE_ROWS - len(old))
            self.next_key += len(new)
            t = gen.orders_rows(rng, np.concatenate([old, new]), self.n_cust)
            # matched rows must change so the change feed reports them
            price = t.column("o_totalprice").to_numpy().copy()
            price[: len(old)] = self.model.loc[old, "o_totalprice"].to_numpy() + 1.5
            i = t.schema.get_field_index("o_totalprice")
            t = t.set_column(i, "o_totalprice", pa.array(price))
            st["merge"] = (self._batch(t, "merge"), t, len(old), len(new))

        def merge(spark) -> Outcome:
            path, t, _, _ = st["merge"]
            before = V.versions(self.table)[-1]
            v = V.merge_version(spark, self.table, spark.read.parquet(path), KEY)
            st["merge_window"] = (before, v)
            return Outcome(v, rows=t.num_rows, info={"user_bytes": t.nbytes})

        def prep_read() -> None:
            lo = int(self._rng("read").integers(0, max(1, self.next_key - READ_RANGE)))
            st["read"] = (lo, lo + READ_RANGE)

        def read(spark) -> Outcome:
            lo, hi = st["read"]
            row = (
                V.read_version(spark, self.table, where=[(KEY, ">=", lo), (KEY, "<", hi)])
                .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
                .collect()[0]
            )
            return Outcome((int(row["n"]), row["s"] or 0.0), rows=int(row["n"]))

        def changes(spark) -> Outcome:
            v0, v1 = st["merge_window"]
            out = V.read_changes(spark, self.table, v0, v1, KEY).groupBy("op").count()
            counts = {r["op"]: int(r["count"]) for r in out.collect()}
            return Outcome(counts, rows=sum(counts.values()))

        def prep_delete_cow() -> None:
            # a range inside the batch just appended: every cycle rewrites
            # one file of APPEND_ROWS rows, whatever the seed
            first = self.next_key - APPEND_ROWS
            lo = first + int(self._rng("delete").integers(0, APPEND_ROWS - DELETE_RANGE))
            hi = lo + DELETE_RANGE
            mask = (self.model[KEY] >= lo) & (self.model[KEY] < hi)
            st["delete_cow"] = (f"{KEY} >= {lo} AND {KEY} < {hi}", mask)

        def prep_delete_dv() -> None:
            c = int(self._rng("dv").integers(0, self.n_cust))
            st["delete_dv"] = (f"o_custkey = {c}", self.model["o_custkey"] == c)

        def deleter(mode: str) -> Callable[[Any], Outcome]:
            def run(spark) -> Outcome:
                predicate, mask = st[f"delete_{mode}"]
                v = V.delete_where(spark, self.table, predicate, mode=mode)
                return Outcome(v, rows=int(mask.sum()), info={"user_bytes": 0})

            return run

        def prep_feed() -> None:
            rng = self._rng("feed")
            keys = np.arange(self.next_event, self.next_event + FEED_ROWS)
            self.next_event += FEED_ROWS
            t = gen.events_rows(rng, keys)
            st["feed"] = (self._batch(t, "feed"), t, keys)

        def feed_append(spark) -> Outcome:
            path, t, _ = st["feed"]
            v = V.append_version(spark.read.parquet(path), self.feed)
            return Outcome(v, rows=t.num_rows, info={"user_bytes": t.nbytes})

        def drain(spark) -> Outcome:
            sink = self.sink
            writer = (
                TS.stream_changes(spark, self.feed, checkpoint=self.ckpt)
                .writeStream.foreachBatch(
                    lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
                )
                .option("checkpointLocation", self.ckpt)
            )
            progress = TS.drain_available_now(writer)
            n = sum(int(p.get("numInputRows", 0)) for p in progress)
            trig = sum(
                float(p.get("durationMs", {}).get("triggerExecution", 0)) for p in progress
            )
            return Outcome(
                n, rows=n, info={"batches": len(progress), "trigger_s": trig / 1e3}
            )

        L = span_name
        return [
            Job(L(V.append_version), "append", append, prep_append),
            Job(L(V.delete_where), "delete_cow", deleter("cow"), prep_delete_cow),
            Job(L(V.merge_version), "merge", merge, prep_merge),
            Job(L(V.read_version), "read", read, prep_read),
            Job(L(V.read_changes), "changes", changes),
            Job(L(V.delete_where), "delete_dv", deleter("dv"), prep_delete_dv),
            Job(L(V.append_version), "feed_append", feed_append, prep_feed),
            Job(L(TS.drain_available_now), "drain", drain),
        ]

    def warmup_chains(self) -> list[list[Job]]:
        # the versioned table's jobs and the feed's jobs share no state
        jobs = self._jobs()
        feed = [j for j in jobs if j.kind in ("feed_append", "drain")]
        return [[j for j in jobs if j not in feed], feed]

    # -- the model of the applied commits ---------------------------------

    def _expected(self, kind: str) -> Any:
        st = self.st
        if kind == "read":
            lo, hi = st["read"]
            m = self.model[(self.model[KEY] >= lo) & (self.model[KEY] < hi)]
            return len(m), float(m["o_totalprice"].sum())
        if kind == "changes":
            _, _, n_old, n_new = st["merge"]
            return {k: v for k, v in (("U", n_old), ("I", n_new)) if v}
        if kind == "drain":
            return len(self.feed_ids) - self.drained
        return None

    def _apply(self, kind: str, out: Outcome | None) -> None:
        st = self.st
        if kind == "append":
            self._model_upsert(st["append"][1].to_pandas())
        elif kind == "merge":
            self._model_upsert(st["merge"][1].to_pandas())
        elif kind in ("delete_cow", "delete_dv"):
            self.model = self.model[~st[kind][1]]
        elif kind == "feed_append":
            self.feed_ids.extend(st["feed"][2].tolist())
        elif kind == "drain" and out is not None:
            self.drained += out.value

    def before(self, job: Job, rec: dict, tracing: bool) -> None:
        if not tracing:
            return
        if job.kind in COMMIT_KINDS:
            rec["bytes_before"] = _dir_bytes(self.feed if job.kind == "feed_append" else self.table)
        elif job.kind == "read":
            from meta_iterative_mapreduce_spark.sources import versioned as V

            lo, hi = self.st["read"]
            kept, total = V.plan_files(self.table, where=[(KEY, ">=", lo), (KEY, "<", hi)])
            rec["files_selected_ratio"] = len(kept) / max(1, total)

    def observe(self, job: Job, out: Outcome | None, rec: dict) -> None:
        """Check the job against the model right after it ran (the model
        moves on with the next commit), then advance the model."""
        want = self._expected(job.kind)
        if out is not None and want is not None:
            got = out.value
            if job.kind == "read":
                ok = got[0] == want[0] and bool(np.isclose(got[1], want[1], rtol=1e-9))
            else:
                ok = got == want
            if not ok:
                print(f"wrong output from {job.kind}: got {got}, want {want}", file=sys.stderr)
                rec["ok"] = False
        self._apply(job.kind, out)
        if "bytes_before" in rec:
            path = self.feed if job.kind == "feed_append" else self.table
            rec["bytes_written"] = _dir_bytes(path) - rec.pop("bytes_before")
        if out is not None:
            rec.update(out.info)

    def verify(self, spark, records: list[dict]) -> dict:
        """The final version must equal the model of the applied commits,
        and the sink must hold every fed row exactly once."""
        from meta_iterative_mapreduce_spark.sources import versioned as V

        arrow = V.read_version(spark, self.table).toArrow()
        got = arrow.to_pandas().sort_values(KEY, ignore_index=True)
        want = self.model.sort_values(KEY, ignore_index=True)[list(got.columns)]
        got["o_orderdate"] = got["o_orderdate"].astype("datetime64[us]")
        want["o_orderdate"] = want["o_orderdate"].astype("datetime64[us]")
        if not got.equals(want):
            print("final table differs from the model of its commits", file=sys.stderr)
            for r in records:
                if r["kind"] in TABLE_COMMITS:
                    r["ok"] = False
        ids = spark.read.parquet(self.sink).select("event_id").toPandas()["event_id"]
        if sorted(ids.tolist()) != sorted(self.feed_ids):
            print("stream sink does not hold each fed row exactly once", file=sys.stderr)
            for r in records:
                if r["kind"] == "drain":
                    r["ok"] = False
        return {"storage_amp": _dir_bytes(self.table) / max(1, arrow.nbytes)}

    def trace_extras(self, spark, records: list[dict]) -> dict:
        from stats import median

        def walls(*kinds: str) -> list[float]:
            return [r["wall_s"] * 1e3 for r in records if r["kind"] in kinds]

        commits = [r for r in records if "bytes_written" in r]
        drains = [r for r in records if r["kind"] == "drain" and "batches" in r]
        reads = [r["files_selected_ratio"] for r in records if "files_selected_ratio" in r]
        out = {
            "versioned.commit_ms.append": median(walls("append")),
            "versioned.commit_ms.merge": median(walls("merge")),
            "versioned.commit_ms.delete": median(walls("delete_cow", "delete_dv")),
            "versioned.bytes_written_per_user_byte": sum(r["bytes_written"] for r in commits)
            / max(1, sum(r.get("user_bytes", 0) for r in commits)),
            "versioned.files_selected_ratio": sum(reads) / max(1, len(reads)),
            "table_source.lifecycle_s": sum(r["wall_s"] - r["trigger_s"] for r in drains)
            / max(1, len(drains)),
            "table_source.batches": sum(r["batches"] for r in drains) / max(1, len(drains)),
        }
        return out
