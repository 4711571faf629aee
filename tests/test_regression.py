"""Algorithmic property checks for the regression family
(SURVEY.md §5.2.4)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators import regression as R


def _li(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def test_sufficient_stats_equals_builtin(spark, sf_dir):
    """Explicit sufficient-statistics OLS == Spark's regr_* built-ins."""
    li = _li(spark, sf_dir)
    ours = R.ols_from_stats(
        R.sufficient_stats(li, "l_quantity", "l_extendedprice")
    ).collect()[0]
    builtin = R.fit_exact(li, "l_quantity", "l_extendedprice").collect()[0]
    assert math.isclose(ours["w0"], builtin["w0"], rel_tol=1e-9)
    assert math.isclose(ours["w1"], builtin["w1"], rel_tol=1e-9)
    assert ours["n_rows"] == builtin["n_rows"]


def test_averaged_fit_with_one_chunk_is_exact(spark, sf_dir):
    """Model averaging degenerates to exact OLS when chunks → 1."""
    li = _li(spark, sf_dir)
    avg1 = R.averaged_fit(
        li, "l_quantity", "l_extendedprice", F.lit(0)
    ).collect()[0]
    exact = R.fit_exact(li, "l_quantity", "l_extendedprice").collect()[0]
    assert math.isclose(avg1["w0"], exact["w0"], rel_tol=1e-9)
    assert math.isclose(avg1["w1"], exact["w1"], rel_tol=1e-9)


def test_meta_fit_collapses_to_chunked(spark, sf_dir):
    """Two-level averaging with a single super-chunk == one-level."""
    li = _li(spark, sf_dir)
    chunk = F.col("l_orderkey") % 8
    meta = R.meta_fit(li, "l_quantity", "l_extendedprice", chunk, F.lit(0)).collect()[0]
    one = (
        R.chunked_fit(li, "l_quantity", "l_extendedprice", chunk)
        .agg(F.avg("w0").alias("w0"), F.avg("w1").alias("w1"))
        .collect()[0]
    )
    assert math.isclose(meta["w0"], one["w0"], rel_tol=1e-9)
    assert math.isclose(meta["w1"], one["w1"], rel_tol=1e-9)


def test_ema_recursion_matches_closed_form(spark, sf_dir):
    """Driver-loop EMA == the closed-form geometric expansion used by
    q_regression_iterative_ema (α^(T−1)·f_1 + (1−α)·Σ α^(T−t)·f_t)."""
    li = _li(spark, sf_dir)
    batch = F.date_format("l_shipdate", "yyyy-MM")
    chunk = F.col("l_orderkey") % 8
    res = R.iterative_ema_fit(
        li, "l_quantity", "l_extendedprice", batch, chunk, eps=0.0
    )
    fits = (
        R.batch_fits(li, "l_quantity", "l_extendedprice", batch, chunk)
        .orderBy("batch")
        .collect()
    )
    a = R.DEFAULT_ALPHA
    T = len(fits)
    w1 = (a ** (T - 1)) * fits[0]["f1"] + sum(
        (1 - a) * (a ** (T - t)) * fits[t - 1]["f1"] for t in range(2, T + 1)
    )
    assert math.isclose(res.w1, w1, rel_tol=1e-9)
    assert res.n_batches == T


def test_iterative_loop_matches_single_pass(spark, sf_dir):
    """The reference-faithful per-batch driver loop and the single-pass
    batch_fits + driver EMA produce identical weights."""
    li = _li(spark, sf_dir).filter(F.col("l_shipdate") < F.lit("1995-07-01").cast("timestamp"))
    batch = F.date_format("l_shipdate", "yyyy-MM")
    chunk = F.col("l_orderkey") % 4
    fast = R.iterative_ema_fit(li, "l_quantity", "l_extendedprice", batch, chunk, eps=0.0)
    slow = R.iterative_fit_loop(li, "l_quantity", "l_extendedprice", batch, chunk, eps=0.0)
    assert math.isclose(fast.w0, slow.w0, rel_tol=1e-9)
    assert math.isclose(fast.w1, slow.w1, rel_tol=1e-9)


def _per_batch_loop(df, x, y, batch, chunk, alpha=R.DEFAULT_ALPHA, eps=1e-6, max_iter=100):
    """The per-batch driver loop iterative_fit_loop used to be: one
    filtered fit per distinct batch key, kept as the semantic reference."""
    tagged = df.select(batch.alias("batch"), chunk.alias("chunk"), F.col(x), F.col(y))
    batches = [r["batch"] for r in tagged.select("batch").distinct().orderBy("batch").collect()]
    w0 = w1 = None
    n_iters, converged = 0, False
    for b in batches:
        if n_iters >= max_iter:
            break
        fit = (
            tagged.filter(F.col("batch") == b)
            .groupBy("chunk")
            .agg(
                F.regr_intercept(F.col(y), F.col(x)).alias("w0"),
                F.regr_slope(F.col(y), F.col(x)).alias("w1"),
            )
            .agg(F.avg("w0").alias("f0"), F.avg("w1").alias("f1"))
            .collect()[0]
        )
        if fit["f0"] is None or fit["f1"] is None:
            continue
        n_iters += 1
        if w0 is None:
            w0, w1 = fit["f0"], fit["f1"]
            continue
        new_w0, new_w1 = R.ema_step(w0, fit["f0"], alpha), R.ema_step(w1, fit["f1"], alpha)
        converged = max(abs(new_w0 - w0), abs(new_w1 - w1)) < eps
        w0, w1 = new_w0, new_w1
        if converged:
            break
    nan = float("nan")
    return R.FitResult(
        nan if w0 is None else w0, nan if w1 is None else w1, n_iters, len(batches), converged
    )


def _same_fit(a, b) -> bool:
    def close(p, q):
        return (math.isnan(p) and math.isnan(q)) or math.isclose(p, q, rel_tol=1e-12)

    return (
        (a.n_iters, a.n_batches, a.converged) == (b.n_iters, b.n_batches, b.converged)
        and close(a.w0, b.w0)
        and close(a.w1, b.w1)
    )


def test_fit_loop_edge_semantics_match_per_batch_loop(spark):
    """NULL batch keys, a batch with no fit, the ε stop and the max_iter
    cut-off behave as the per-batch loop: a NULL key matches no batch
    (batch == NULL is never true) but counts in n_batches; batch 2's
    chunks each have one x value, so its fits are all NULL and it is
    skipped; batch 3 repeats batch 1, so any eps > 0 stops there."""
    base = [(1.0, 3.0), (2.0, 5.5), (3.0, 6.0), (4.0, 9.5)]
    rows = []
    for b, pts in ((None, [(1.0, 100.0), (2.0, -7.0)]), (1, base), (3, base),
                   (4, [(1.0, 1.0), (2.0, 4.0), (3.0, 2.0)])):
        rows += [(b, k, xv, yv) for k in (0, 1) for xv, yv in pts]
    rows += [(2, k, 5.0, float(k + i)) for k in (0, 1) for i in range(3)]
    df = spark.createDataFrame(rows, "b int, k int, x double, y double")
    cases = [
        dict(eps=1e-9),
        dict(eps=0.0),
        dict(eps=0.0, max_iter=1),
        dict(eps=0.0, max_iter=2),
        dict(eps=0.0, max_iter=0),
    ]
    got = []
    for kw in cases:
        new = R.iterative_fit_loop(df, "x", "y", F.col("b"), F.col("k"), **kw)
        ref = _per_batch_loop(df, "x", "y", F.col("b"), F.col("k"), **kw)
        assert _same_fit(new, ref), (kw, new, ref)
        got.append((new.n_iters, new.n_batches, new.converged))
    assert got == [(2, 5, True), (3, 5, False), (1, 5, False), (2, 5, False), (0, 5, False)]
    # every row NULL-keyed: no batch is fitted, but the key is counted
    nulls = df.filter(F.col("b").isNull())
    new = R.iterative_fit_loop(nulls, "x", "y", F.col("b"), F.col("k"))
    assert _same_fit(new, _per_batch_loop(nulls, "x", "y", F.col("b"), F.col("k")))
    assert (new.n_iters, new.n_batches) == (0, 1) and math.isnan(new.w0)


def test_fit_loop_matches_per_batch_loop_on_lineitem(spark, sf_dir):
    li = _li(spark, sf_dir)
    batch = F.year("l_shipdate") * 100 + F.month("l_shipdate")
    chunk = F.col("l_orderkey") % 8
    for kw in (dict(eps=1e-12, max_iter=3), dict(eps=1e-3)):
        new = R.iterative_fit_loop(li, "l_quantity", "l_extendedprice", batch, chunk, **kw)
        ref = _per_batch_loop(li, "l_quantity", "l_extendedprice", batch, chunk, **kw)
        assert _same_fit(new, ref), (kw, new, ref)


def test_fit_loop_job_count_is_flat(spark, sf_dir, count_jobs):
    """The Spark job count of iterative_fit_loop grows neither with the
    number of batches nor with max_iter: one aggregation, one collect."""
    li = _li(spark, sf_dir)
    chunk = F.col("l_orderkey") % 8

    def fit(batch, max_iter):
        return lambda: R.iterative_fit_loop(
            li, "l_quantity", "l_extendedprice", batch, chunk, eps=0.0, max_iter=max_iter
        )

    few, jobs_few = count_jobs(fit(F.year("l_shipdate"), 1))
    many, jobs_many = count_jobs(
        fit(F.year("l_shipdate") * 100 + F.month("l_shipdate"), 100)
    )
    assert few.n_iters == 1 and many.n_iters == many.n_batches > 3 * few.n_batches
    assert jobs_many == jobs_few <= 4, (jobs_few, jobs_many)

def test_flagship_entry_schema(spark):
    df = R.flagship(spark)
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_batches"] > 0 and r["n_iters"] >= 1
    assert not math.isnan(r["w0"]) and not math.isnan(r["w1"])
