from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import seeded_random_graph
from webgraph_ans_rs_spark.operators.pagerank import pagerank


def numpy_pagerank(es, n, damping=0.85, iters=100, tol=None):
    """Independent dense power-iteration oracle with uniform dangling
    redistribution (FIXTURES.md §4)."""
    out = np.zeros(n)
    for a, _ in es:
        out[a] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for a, b in es:
            contrib[b] += r[a] / out[a]
        dangling = r[out == 0].sum()
        rn = (1 - damping) / n + damping * (contrib + dangling / n)
        delta = np.abs(rn - r).sum()
        r = rn
        if tol is not None and delta <= tol:
            break
    return r


def test_pagerank_matches_numpy_fixed_iters(spark):
    edges, verts, es, n = seeded_random_graph(spark)
    res = pagerank(edges, verts, max_iter=5, tol=None)
    got = {r.vertex: r.pr for r in res.ranks.collect()}
    want = numpy_pagerank(es, n, iters=5)
    assert res.iterations == 5
    for v in range(n):
        assert abs(got[v] - want[v]) < 1e-12


def test_pagerank_converged_allclose_1e6(spark):
    edges, verts, es, n = seeded_random_graph(spark)
    res = pagerank(edges, verts, max_iter=100, tol=1e-6)
    got = np.array([r.pr for r in res.ranks.orderBy("vertex").collect()])
    want = numpy_pagerank(es, n, iters=res.iterations)
    assert np.allclose(got, want, atol=1e-6)
    assert res.l1_delta <= 1e-6


def test_pagerank_mass_conserved(spark):
    edges, verts, es, n = seeded_random_graph(spark)
    res = pagerank(edges, verts, max_iter=3, tol=None)
    total = res.ranks.agg(F.sum("pr")).first()[0]
    assert abs(total - 1.0) < 1e-9


def test_pagerank_dangling_tiny(tiny_graph):
    """Tiny graph has 3 dangling vertices — exercises the dangling path."""
    edges, verts = tiny_graph
    res = pagerank(edges, verts, max_iter=10, tol=None)
    es = [(4, 0), (0, 2), (0, 3), (1, 5)]
    want = numpy_pagerank(es, 6, iters=10)
    got = {r.vertex: r.pr for r in res.ranks.collect()}
    for v in range(6):
        assert abs(got[v] - want[v]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_pagerank_history_metrics(spark):
    edges, verts, es, n = seeded_random_graph(spark)
    res = pagerank(edges, verts, max_iter=3, tol=None)
    assert len(res.history) == 3
    assert all(h["wall_ms"] >= 0 and h["delta"] >= 0 for h in res.history)


def test_personalized_pagerank_mass_and_locality(spark):
    """PPR sanity on two disjoint 3-cycles with the seed in one of them:
    total mass stays 1 (no dangling here), the seedless component drains
    to exactly 0, and the seed holds the largest score."""
    from webgraph_ans_rs_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    verts = spark.createDataFrame(
        [(v,) for v in (0, 1, 2, 10, 11, 12)], "vertex long"
    )
    seeds = spark.createDataFrame([(0,)], "vertex long")
    pr = {
        r.vertex: r.pr
        for r in personalized_pagerank(edges, verts, seeds, num_iter=60).collect()
    }
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[10] == pr[11] == pr[12] == 0.0
    # stationary solution of the seeded 3-cycle: pr0 = 0.15/(1-0.85^3),
    # pr1 = 0.85*pr0, pr2 = 0.85^2*pr0 (60 iters: residual ~0.85^60)
    p0 = 0.15 / (1.0 - 0.85**3)
    for v, want in ((0, p0), (1, 0.85 * p0), (2, 0.85**2 * p0)):
        assert abs(pr[v] - want) < 1e-4, (v, want, pr[v])


def test_personalized_pagerank_dangling_to_seeds(spark):
    """A dangling sink's mass must flow back to the seed set, conserving
    total mass."""
    from webgraph_ans_rs_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(0,), (1,), (2,)], "vertex long")
    seeds = spark.createDataFrame([(0,)], "vertex long")
    pr = {
        r.vertex: r.pr
        for r in personalized_pagerank(edges, verts, seeds, num_iter=20).collect()
    }
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[0] > pr[1] > 0 and pr[2] > 0


def test_personalized_pagerank_duplicate_and_foreign_seeds(spark):
    """Duplicate seed rows and seeds outside the vertex set must not lose
    teleport mass."""
    from webgraph_ans_rs_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    verts = spark.createDataFrame([(0,), (1,)], "vertex long")
    seeds = spark.createDataFrame([(0,), (0,), (99,)], "vertex long")
    pr = {
        r.vertex: r.pr
        for r in personalized_pagerank(edges, verts, seeds, num_iter=10).collect()
    }
    assert abs(sum(pr.values()) - 1.0) < 1e-9


def test_personalized_pagerank_converged_matches_fixed_iters(spark):
    """The tol-loop stops at some iteration j; running the fixed-iteration
    form for exactly j iterations must give identical ranks (same loop,
    same arithmetic), and the reported delta rule must hold: running one
    fewer iteration differs by more than tol in L1."""
    from webgraph_ans_rs_spark.operators.pagerank import (
        personalized_pagerank,
        personalized_pagerank_converged,
    )

    from tests.conftest import seeded_random_graph

    edges, verts, _, _ = seeded_random_graph(spark, n=120, m=500)
    seeds = spark.createDataFrame([(i,) for i in range(0, 120, 11)], "vertex long")
    tol = 1e-6
    pr_c, iters = personalized_pagerank_converged(
        edges, verts, seeds, damping=0.5, max_iter=35, tol=tol
    )
    got = {r.vertex: r.pr for r in pr_c.collect()}
    fixed = {
        r.vertex: r.pr
        for r in personalized_pagerank(
            edges, verts, seeds, damping=0.5, num_iter=iters
        ).collect()
    }
    assert got == fixed
    prev = {
        r.vertex: r.pr
        for r in personalized_pagerank(
            edges, verts, seeds, damping=0.5, num_iter=iters - 1
        ).collect()
    }
    l1_last = sum(abs(got[v] - prev[v]) for v in got)
    assert l1_last <= tol
    assert 1 < iters <= 35


def numpy_pagerank_weighted(ews, n, damping=0.85, iters=5):
    """Independent dense weighted power iteration: transition = wt share."""
    tw = np.zeros(n)
    for a, _b, w in ews:
        tw[a] += w
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for a, b, w in ews:
            contrib[b] += r[a] * (w / tw[a])
        dangling = r[tw == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return r


def test_pagerank_weighted_uniform_weights_equal_unweighted(spark):
    from webgraph_ans_rs_spark.operators.pagerank import pagerank_weighted

    edges, verts, es, n = seeded_random_graph(spark, n=60, m=240, seed=3)
    ew = edges.select("src", "dst", F.lit(1.0).alias("wt"))
    got_w = {
        r.vertex: r.pr
        for r in pagerank_weighted(ew, verts, num_iter=5).ranks.collect()
    }
    got_u = {
        r.vertex: r.pr
        for r in pagerank(edges, verts, max_iter=5, tol=None).ranks.collect()
    }
    assert set(got_w) == set(got_u)
    for v in got_u:
        # wn = 1.0/tw vs w = 1.0/outdeg are the same IEEE division here
        assert abs(got_w[v] - got_u[v]) < 1e-12, v


def test_pagerank_weighted_matches_numpy(spark):
    from webgraph_ans_rs_spark.operators.pagerank import pagerank_weighted

    edges, verts, es, n = seeded_random_graph(spark, n=60, m=240, seed=9)
    ews = [(a, b, float(1 + (a + 3 * b) % 5)) for a, b in es]
    ew = edges.select(
        "src",
        "dst",
        (F.lit(1) + (F.col("src") + F.lit(3) * F.col("dst")) % 5)
        .cast("double")
        .alias("wt"),
    )
    want = numpy_pagerank_weighted(ews, n, iters=5)
    got = {
        r.vertex: r.pr
        for r in pagerank_weighted(ew, verts, num_iter=5).ranks.collect()
    }
    for v in range(n):
        assert abs(got[v] - want[v]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9
