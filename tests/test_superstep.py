"""Superstep driver (operators/superstep.py): the frame it hands out for
plan audits is the loop's own superstep, and a loop that fails leaves the
session as it found it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import seeded_random_graph
from webgraph_ans_rs_spark.operators import superstep
from webgraph_ans_rs_spark.operators.components import connected_components
from webgraph_ans_rs_spark.operators.hits import hits
from webgraph_ans_rs_spark.operators.labelprop import label_propagation_converged
from webgraph_ans_rs_spark.operators.pagerank import (
    pagerank,
    personalized_pagerank,
    personalized_pagerank_converged,
)


def _count(jplan, name: str) -> int:
    total = 1 if name in jplan.nodeName() else 0
    kids = jplan.children()
    for i in range(kids.length()):
        total += _count(kids.apply(i), name)
    return total


@pytest.fixture
def aqe_off(spark):
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "kernel, n_shj", [("pagerank", 1), ("personalized_pagerank", 2), ("hits", 1)]
)
def test_superstep_plans_single_exchange(spark, aqe_off, kernel, n_shj):
    """Superstep 2 (superstep 1 barriered) plans exactly one exchange, the
    gather: the scatter join (and the PPR teleport apply) are shuffle-hash
    joins over co-partitioned sides, with no sort. HITS's superstep 2 is
    its first hub half-step."""
    edges, verts, _, _ = seeded_random_graph(spark)
    with superstep.capture() as cap:
        if kernel == "pagerank":
            pagerank(edges, verts, max_iter=2, tol=0.0)
        elif kernel == "hits":
            hits(edges, verts, num_iter=2)
        else:
            seeds = verts.where("vertex % 17 = 0")
            personalized_pagerank(edges, verts, seeds, num_iter=2)
    jplan = cap.frame._jdf.queryExecution().executedPlan()
    counts = tuple(_count(jplan, k) for k in ("Exchange", "Sort", "ShuffledHashJoin"))
    assert counts == (1, 0, n_shj)


@pytest.mark.parametrize(
    "kernel",
    ["personalized_pagerank_converged", "label_propagation_converged", "connected_components"],
)
def test_unconverged_loop_restores_session(spark, kernel):
    edges, verts, _, _ = seeded_random_graph(spark)
    jsc = spark.sparkContext._jsc
    coalesce = spark.conf.get(superstep.COALESCE_KEY)
    # ids, not the count: earlier tests' frames may be cleaned meanwhile
    persisted = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError):
        if kernel == "personalized_pagerank_converged":
            personalized_pagerank_converged(edges, verts, verts.where("vertex < 3"), max_iter=1)
        elif kernel == "label_propagation_converged":
            label_propagation_converged(edges, verts, max_iter=1)
        else:  # a 64-vertex path needs several star rounds
            path = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
            path_verts = spark.range(64).select(F.col("id").alias("vertex"))
            connected_components(path, path_verts, max_rounds=1)
    assert spark.conf.get(superstep.COALESCE_KEY) == coalesce
    assert set(jsc.getPersistentRDDs().keys()) <= persisted
