"""connected_components (large-star/small-star) vs a union-find model
and vs the DataFrame composition of its rounds on randomized graphs,
plus shape checks on the registered queries."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.operators import components as C
from meta_iterative_mapreduce_spark.operators.components import (
    connected_components,
    q_dedup_components,
)


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict:
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    """Random sparse graphs of several shapes (chains force multi-round
    convergence; dense pockets force the star collapse)."""
    rng = random.Random(7)
    for trial in range(4):
        n = rng.choice([30, 80, 150])
        edges = []
        # random edges
        for _ in range(int(n * rng.uniform(0.3, 1.2))):
            edges.append((rng.randrange(n), rng.randrange(n)))
        # one long chain — worst case for naive propagation
        chain = rng.sample(range(n), min(20, n))
        edges += list(zip(chain, chain[1:]))
        expected = _union_find_components(n, edges)

        df = spark.createDataFrame(edges, "u long, v long")
        got = {
            r.node: r.component_id
            for r in connected_components(df).collect()
        }
        # model covers every node incident to an edge incl. self-loops;
        # spark result covers nodes incident to a non-self-loop edge
        for node, comp in got.items():
            assert expected[node] == comp, (trial, node)
        missing = {
            x for x, c in expected.items() if x != c or any(
                (a == x or b == x) and a != b for a, b in edges
            )
        } - set(got)
        assert not missing, (trial, missing)



def _large_star(e):
    """Reference large-star round (groupBy-min, join, distinct): for
    every node u, connect every LARGER neighbor v > u to
    m = min(Γ(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e):
    """Reference small-star round: orient edges large→small; for every
    node u, connect its smaller neighbors N(u) and u itself to
    m = min(N(u))."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    members = oriented.select("u", "v").union(
        oriented.select("u", F.col("u").alias("v")).distinct()
    )
    return (
        members.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _edge_set(df) -> set:
    return {(r[0], r[1]) for r in df.collect()}


def _reference_rounds(spark, edges: list[tuple[int, int]]) -> list[set]:
    """Edge set after each round of the reference composition
    _small_star(_large_star(e)), to fixpoint. Every round is also run
    through the operator's one-call round plan on the SAME input and
    must give the same edge set."""
    cur = {(u, v) for u, v in edges if u != v}
    out = []
    while cur:
        e = spark.createDataFrame(sorted(cur), "u long, v long")
        nxt = _edge_set(_small_star(_large_star(e)))
        assert _edge_set(spark.sql(C._STAR_ROUND_SQL, e=e)) == nxt, len(out)
        out.append(nxt)
        if nxt == cur:
            break
        cur = nxt
    return out


def _cc_rounds(edges_df) -> tuple[dict, list[int]]:
    counts = []
    labels = connected_components(
        edges_df, on_round=lambda i, n, s: counts.append(n)
    ).collect()
    return {r.node: r.component_id for r in labels}, counts


def _random_graph(rng: random.Random, n: int, offset: int = 0) -> list[tuple[int, int]]:
    return [
        (offset + rng.randrange(n), offset + rng.randrange(n))
        for _ in range(int(n * rng.uniform(0.5, 1.5)))
    ]


def test_round_plan_matches_reference_composition(spark):
    """Per round, the operator's edge count equals that of the
    reference _large_star/_small_star composition (whose edge SETS
    the one-call round plan reproduces round by round), and the labels
    equal union-find's. The graph is a chain, a hub with 10⁴ leaves
    (on both sides of its id) and two random graphs, on disjoint ids,
    so one run covers every shape."""
    rng = random.Random(23)
    chain = rng.sample(range(1000), 64)
    edges = list(zip(chain, chain[1:]))
    edges += [(15_000, x) for x in range(10_000, 20_001) if x != 15_000]
    edges += _random_graph(rng, 120, 30_000) + _random_graph(rng, 300, 40_000)
    want_rounds = _reference_rounds(spark, edges)
    labels, counts = _cc_rounds(spark.createDataFrame(edges, "u long, v long"))
    assert counts == [len(r) for r in want_rounds]
    assert len(counts) >= 4
    assert labels == _union_find_components(0, [(u, v) for u, v in edges if u != v])


def test_missing_signature_falls_back_to_exact_test(spark, monkeypatch):
    """When the observed signature is not posted in time, each round
    uses the exact set test instead of failing: same rounds, same
    labels."""
    df = spark.createDataFrame(_random_graph(random.Random(29), 120), "u long, v long")
    want = _cc_rounds(df)
    assert len(want[1]) >= 2
    monkeypatch.setattr(C, "_observed", lambda obs, timeout_s=0: None)
    assert _cc_rounds(df) == want


def test_cc_job_count_per_round_is_bounded(spark, count_jobs):
    """Each star round is one plan of three exchanges plus its
    checkpoint: at most 4 Spark jobs per round, plus a fixed cost for
    the initial distinct and the final exact fixpoint test."""
    chain = random.Random(5).sample(range(500), 100)
    df = spark.createDataFrame(list(zip(chain, chain[1:])), "u long, v long")
    counts = []
    _, jobs = count_jobs(
        lambda: connected_components(df, on_round=lambda i, n, s: counts.append(n))
    )
    assert len(counts) >= 3
    assert jobs <= 4 * len(counts) + 6, (jobs, len(counts))


def test_link_predict_query_releases_its_cache(spark, sf_dir):
    """q_graph_link_predict leaves no persisted table behind: once its
    result's own local checkpoint is released, the session's persistent
    RDDs are back to where they started."""
    from meta_iterative_mapreduce_spark.operators.components import (
        q_graph_link_predict,
    )

    sc = spark.sparkContext

    def persistent() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = persistent()
    out = q_graph_link_predict(spark, sf_dir)
    assert out.count() == len(out.collect())
    added = persistent() - before
    plan = out._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(True)  # the result's own local checkpoint
    assert not persistent() - before, added


def test_dedup_components_partition_properties(spark, sf_dir):
    out = q_dedup_components(spark, sf_dir)
    rows = out.collect()
    n_docs = len(rows)
    assert n_docs > 0
    assert len({r.doc_id for r in rows}) == n_docs  # one label per doc
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    for comp_id, members in by_comp.items():
        assert comp_id == min(m.doc_id for m in members)  # min-id root
        keeps = [m for m in members if m.keep]
        assert len(keeps) == 1 and keeps[0].doc_id == comp_id
    # the fixture graph must contain at least one multi-doc component
    assert any(len(m) > 1 for m in by_comp.values())
    # idempotence of the keep-set: rerunning on kept docs only yields
    # all-singleton components is NOT asserted here (costly); covered
    # by the union-find property above.
    assert out.schema["keep"].dataType.typeName() == "boolean"


def test_pagerank_matches_power_iteration(spark):
    """3-round PageRank on random symmetric graphs vs a plain numpy
    power iteration with the identical update (teleport + damped
    in-neighbor sum over out-degree)."""
    import numpy as np

    rng = random.Random(11)
    for trial in range(3):
        n = rng.choice([12, 25, 40])
        und = set()
        for _ in range(n * 2):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                und.add((min(a, b), max(a, b)))
        # keep every node incident to an edge (pagerank's node set)
        sym = [(a, b) for a, b in und] + [(b, a) for a, b in und]
        nodes = sorted({u for u, _ in sym})
        idx = {u: i for i, u in enumerate(nodes)}
        m = len(nodes)
        adj = np.zeros((m, m))
        for u, v in sym:
            adj[idx[v], idx[u]] = 1.0  # contribution u -> v
        deg = adj.sum(axis=0)
        pr = np.full(m, 1.0 / m)
        for _ in range(3):
            pr = 0.15 / m + 0.85 * (adj @ (pr / deg))

        from meta_iterative_mapreduce_spark.operators.components import pagerank

        df = spark.createDataFrame(sym, "u long, v long")
        ranks, got_n = pagerank(df, n_iter=3)
        assert got_n == m
        got = {r.u: r.pr for r in ranks.collect()}
        assert set(got) == set(nodes), trial
        for u in nodes:
            assert abs(got[u] - pr[idx[u]]) < 1e-9, (trial, u)


def test_link_predict_equals_brute_force(spark):
    """link_predict_pairs == a pure-Python brute force on a synthetic
    graph with a hub: two 4-cliques sharing no edge but bridged by
    common neighbors, plus a degree-9 hub that must be excluded as a
    wedge center by cap=8 (its wedges contribute no pairs) while still
    counting toward Jaccard denominators."""
    from meta_iterative_mapreduce_spark.operators.components import (
        link_predict_pairs,
    )

    und = set()
    for base in (0, 10):  # two 4-cliques
        for i in range(4):
            for j in range(i + 1, 4):
                und.add((base + i, base + j))
    # bridges: nodes 20, 21 adjacent to members of both cliques
    for b in (20, 21):
        und |= {(0, b), (1, b), (10, b), (11, b)}
    # hub 30: adjacent to 9 nodes -> degree 9 > cap 8, excluded center
    und |= {(n, 30) for n in (0, 1, 2, 3, 10, 11, 12, 13, 20)}
    cap = 8
    adj: dict[int, set[int]] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nodes = sorted(adj)
    expect = {}
    for i, x in enumerate(nodes):
        for y in nodes[i + 1 :]:
            if y in adj[x]:
                continue
            common = {
                w for w in adj[x] & adj[y] if len(adj[w]) <= cap
            }
            if len(common) >= 2:
                c = len(common)
                expect[(x, y)] = (
                    c,
                    c * 10000 // (len(adj[x]) + len(adj[y]) - c),
                )
    sym = [(u, v) for u, v in und] + [(v, u) for u, v in und]
    edges = spark.createDataFrame(sym, "u long, v long")
    got = {
        (r.u, r.v): (r.n_common, r.jaccard_bp)
        for r in link_predict_pairs(edges, center_cap=cap).collect()
    }
    assert got == expect and len(expect) >= 3
