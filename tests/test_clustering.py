"""K-means property checks (iterative-loop workload #2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.functions.vectors import dot_const
from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators import clustering as C


def _dist_sq(col, center: list[float]):
    """Squared L2 distance to a constant center, expanded as
    ||v||² − 2·v·c + ||c||² (one pass over the array; ||c||² folds to a
    literal)."""
    c_norm_sq = sum(x * x for x in center)
    v_norm_sq = F.aggregate(
        F.transform(col, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return v_norm_sq - 2.0 * dot_const(col, center) + F.lit(c_norm_sq)


def _inertia(e, centers) -> float:
    assigned = C.assign_clusters(e, "embedding", centers)
    d = None
    for j, c in enumerate(centers):
        dj = _dist_sq(F.col("embedding"), c)
        d = dj if j == 0 else F.when(F.col("cluster") == j, dj).otherwise(d)
    return assigned.withColumn("d", d).agg(F.sum("d")).collect()[0][0]


def test_lloyd_iterations_never_increase_inertia(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    init = C._init_centers(spark, sf_dir, 4)
    prev = _inertia(e, init)
    centers = init
    for _ in range(3):
        centers = C.kmeans(e, "embedding", centers, n_iters=1).centers
        cur = _inertia(e, centers)
        assert cur <= prev + 1e-9
        prev = cur


def test_assignment_covers_all_rows_once(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    init = C._init_centers(spark, sf_dir, 4)
    assigned = C.assign_clusters(e, "embedding", init)
    assert assigned.count() == e.count()
    clusters = {r["cluster"] for r in assigned.select("cluster").distinct().collect()}
    assert clusters.issubset(set(range(4)))



def _literal_assign(df, vec_col, centers):
    """The per-coordinate-literal assignment assign_clusters replaced —
    one F.lit per center coordinate — kept as the bit-level reference."""
    scores = F.array(*[
        -2.0 * dot_const(F.col(vec_col), c) + F.lit(sum(x * x for x in c))
        for c in centers
    ])
    cluster = (F.array_position(scores, F.array_min(scores)) - 1).cast("int")
    return df.withColumn("__scores", scores).withColumn("cluster", cluster)


def _bits(xs) -> list:
    """Doubles as bit patterns, every NaN folded to one pattern."""
    import math
    import struct

    return [
        "nan" if x is not None and math.isnan(x) else
        (None if x is None else struct.pack("<d", x))
        for x in xs
    ]


def test_assign_scores_bit_identical_to_literal_expression(spark):
    """Scores and clusters equal the per-coordinate-literal expression
    bit for bit, for negative, tiny (~1e-300), huge (~1e300: ||c||²
    overflows to inf) and non-finite centers."""
    vecs = [
        [0.5, -1.25, 3.0],
        [-2.0, 0.0, 1e-3],
        [1e-300, -3e-300, 2.5e-301],
        [7.0, 7.0, -7.0],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, v array<double>"
    )
    inf, nan = float("inf"), float("nan")
    center_sets = [
        [[-1.5, -0.1, -2.75], [0.1, 0.2, 0.30000000000000004], [-0.0, 0.0, 1.0]],
        [[1e-300, -2e-300, 5e-324], [-1.7e-300, 3e-299, 1e-310]],
        [[1e300, -1e300, 1e299], [-1.5e300, 2e300, -3e299], [1.0, 2.0, 3.0]],
        [[inf, 0.0, 1.0], [nan, 1.0, 2.0], [-inf, 1.0, 1.0], [0.5, -0.5, 0.25]],
    ]
    for centers in center_sets:
        got = C.assign_clusters(df, "v", centers).orderBy("id").collect()
        want = _literal_assign(df, "v", centers).orderBy("id").collect()
        for g, w in zip(got, want):
            assert _bits(g["__scores"]) == _bits(w["__scores"]), (centers, g, w)
            assert g["cluster"] == w["cluster"], (centers, g, w)


def test_kmeans_bit_identical_to_literal_expression(spark, sf_dir, monkeypatch):
    """Centers and SSEs of k-means equal, bit for bit, those of the same
    loop run with the per-coordinate-literal assignment."""
    e = load_table(spark, sf_dir, "embeddings")
    init = C._init_centers(spark, sf_dir, 4)
    got = C.kmeans(e, "embedding", init, n_iters=2)
    monkeypatch.setattr(C, "assign_clusters", _literal_assign)
    want = C.kmeans(e, "embedding", init, n_iters=2)
    assert got.centers == want.centers
    assert got.sses == want.sses and got.n_assigned == want.n_assigned

def test_pca_power_is_eigenpair(spark, sf_dir):
    """The returned (eigval, v) must satisfy G v ~= eigval * v — the
    fixpoint property of power iteration, checked against an
    independently recollected Gram matrix."""
    from meta_iterative_mapreduce_spark.operators.similarity import (
        _gram_matrix,
        pca_power_fit,
        q_embed_pca_power,
    )

    eigval, v, resid, trace = pca_power_fit(spark, sf_dir)
    g = _gram_matrix(spark, sf_dir)
    d = len(v)
    gv = [sum(g[i][k] * v[k] for k in range(d)) for i in range(d)]
    for i in range(d):
        assert abs(gv[i] - eigval * v[i]) <= max(1e-2, 2e-3 * abs(eigval)), i
    # unit norm, sign pinned positive on the largest component
    assert abs(sum(x * x for x in v) - 1.0) < 1e-2
    assert max(v, key=abs) > 0
    assert resid < 0.05 and trace / d <= eigval <= trace
    # the certified flag row agrees
    row = q_embed_pca_power(spark, sf_dir).collect()[0]
    assert row["d"] == d and row["unit_norm"] and row["residual_lt_5pct"]
    assert row["eigval_ge_mean_eig"] and row["eigval_le_trace"]


def test_gram_blas_matches_declarative(spark, sf_dir):
    """The BLAS scale path and the oracle-checked declarative plan must
    agree cell-for-cell (fp tolerance: different summation orders)."""
    from meta_iterative_mapreduce_spark.io import load_table
    from meta_iterative_mapreduce_spark.operators.similarity import (
        embed_gram_declarative,
        gram_matrix_blas,
    )

    slow = {
        (r["i"], r["j"]): r["gram"]
        for r in embed_gram_declarative(spark, sf_dir).collect()
    }
    fast = {
        (r["i"], r["j"]): r["gram"]
        for r in gram_matrix_blas(
            load_table(spark, sf_dir, "embeddings")
        ).collect()
    }
    assert set(slow) == set(fast)
    for k, v in slow.items():
        assert abs(fast[k] - v) <= max(1e-6, 1e-9 * abs(v)) + 5e-5, k


def test_pq_codes_identical_for_duplicate_vectors(spark, sf_dir):
    """PQ encoding is a function of the vector: planted exact-duplicate
    vectors must get byte-identical code arrays and identical
    reconstruction error, and codes span multiple values (the codebook
    is actually used, not collapsed)."""
    e = load_table(spark, sf_dir, "embeddings").limit(200)
    dup = e.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    both = e.unionAll(dup)
    books = C.pq_train(both, "embedding", both.filter(F.col("vec_id") < C._PQ_K))
    enc = {r["vec_id"]: (tuple(r["codes"]), r["recon_err"])
           for r in C.pq_encode(both, "embedding", books).collect()}
    for vid in list(enc):
        if vid >= 1_000_000:
            assert enc[vid] == enc[vid - 1_000_000]
    assert len({c for c, _ in enc.values()}) > 10
    assert all(len(c) == C._PQ_M for c, _ in enc.values())


def test_pq_beats_single_centroid_reconstruction(spark, sf_dir):
    """Mean PQ reconstruction error must beat the degenerate 1-code
    codebook (every subvector mapped to the subspace mean) — i.e. the
    K=16 codebook genuinely encodes structure."""
    e = load_table(spark, sf_dir, "embeddings")
    books = C.pq_train(e, "embedding", e.filter(F.col("vec_id") < C._PQ_K))
    pq_err = (
        C.pq_encode(e, "embedding", books)
        .agg(F.avg("recon_err").alias("m"))
        .collect()[0]["m"]
    )
    sub = C._pq_subvectors(e, "embedding")
    mean_books = [
        [
            [
                r["c" + str(d)] for d in range(C._PQ_DIM)
            ]
        ]
        * C._PQ_K
        for r in sub.groupBy("sub_id")
        .agg(
            *[
                F.avg(F.element_at("sv", d + 1).cast("double")).alias("c" + str(d))
                for d in range(C._PQ_DIM)
            ]
        )
        .orderBy("sub_id")
        .collect()
    ]
    mean_err = (
        C.pq_encode(e, "embedding", mean_books)
        .agg(F.avg("recon_err").alias("m"))
        .collect()[0]["m"]
    )
    assert pq_err < 0.8 * mean_err, (pq_err, mean_err)


def test_pq_adc_certification_row(spark, sf_dir):
    """ADC evaluation returns one certification row: every persisted
    code was ranked, the per-candidate triangle bound
    |sqrt(adc) - sqrt(exact)| <= sqrt(recon_err) holds corpus-wide,
    and re-ranked recall dominates raw ADC (superset theorem)."""
    from meta_iterative_mapreduce_spark import registry
    from meta_iterative_mapreduce_spark.io import load_table

    r = registry.queries()["q_sim_pq_adc"](spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    n = load_table(spark, sf_dir, "embeddings").count()
    assert row["n_candidates"] == n - 1
    assert row["adc_triangle_bound_ok"] is True
    assert row["rerank_ge_adc"] is True


def test_pq_index_is_persisted_and_reused(spark, sf_dir):
    """ensure_pq_index trains at most once per fixture content: a
    second call commits nothing new (same single version) and returns
    the identical codebook; the ADC query therefore runs at scan cost
    with recall unchanged (VERDICT r8 item 8)."""
    from meta_iterative_mapreduce_spark.operators.clustering import (
        ensure_pq_index,
        q_sim_pq_adc,
    )
    from meta_iterative_mapreduce_spark.sources import versioned

    table, books1 = ensure_pq_index(spark, sf_dir)
    v_before = versioned.versions(table)
    table2, books2 = ensure_pq_index(spark, sf_dir)
    assert table2 == table
    assert versioned.versions(table) == v_before == [1]
    assert books2 == books1
    # codebook shape: M subspaces x K codes x dim floats
    assert len(books1) == 8 and all(len(b) == 16 for b in books1)
    row = q_sim_pq_adc(spark, sf_dir).collect()[0]
    # the certification flags must hold against the reused index
    assert row["adc_triangle_bound_ok"] is True
    assert row["rerank_ge_adc"] is True


def test_ivfpq_probe_is_partition_pruned_and_recalls(spark, sf_dir):
    """The composed IVF-PQ pipeline: the probe must open only the
    probed inverted lists' files (manifest partition prune — the scan
    fraction IS nProbe/K) and the full probe→ADC→re-rank pipeline must
    keep recall@10 ≥ 0.7 against the global exact top-10."""
    from meta_iterative_mapreduce_spark.operators.clustering import (
        ivfpq_eval,
        q_sim_ivf_pq,
    )

    r = ivfpq_eval(spark, sf_dir)
    assert r["n_files_read"] < r["n_files_total"]
    assert r["n_files_read"] / r["n_files_total"] <= 0.5
    assert r["recall_at_10"] >= 0.7
    assert r["adc_triangle_ok"] is True
    row = q_sim_ivf_pq(spark, sf_dir).collect()[0]
    assert row["probe_pruned"] and row["probe_share_ok"]
    assert row["adc_triangle_ok"] and row["hits_le_k"]


def test_gram_blas_relative_error_at_scale(spark):
    """VERDICT r14 item 10: the q_embed_gram hash oracle leans on
    ROUND(,4), whose absolute window stops absorbing float64
    summation-order differences as n grows. Certify the BLAS path with
    a RELATIVE bound (|blas - truth| <= 1e-9 * max(1, |truth|)) at a
    row count two orders above the sf0.1 fixture, against an
    independently accumulated numpy ground truth. The embedding values
    are exact dyadic rationals (k/64) computed from the row id by the
    same formula in both engines, so the inputs are bit-identical and
    only accumulation order differs."""
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.similarity import (
        gram_matrix_blas,
    )

    n, d = 400_000, 16
    ids = np.arange(n, dtype=np.int64)[:, None]
    cols = np.arange(d, dtype=np.int64)[None, :]
    X = (((ids * d + cols) % 1000) - 500) / 64.0
    truth = X.T @ X
    df = spark.range(n).select(
        F.expr(
            f"transform(sequence(0, {d - 1}), c -> "
            f"(CAST((id * {d} + c) % 1000 AS DOUBLE) - 500.0) / 64.0)"
        ).alias("embedding")
    )
    rows = gram_matrix_blas(df).collect()
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        t = truth[r["i"] - 1, r["j"] - 1]
        assert abs(r["gram"] - t) <= 1e-9 * max(1.0, abs(t)), (
            r["i"],
            r["j"],
            r["gram"],
            t,
        )
