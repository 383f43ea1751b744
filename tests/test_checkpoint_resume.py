from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import seeded_random_graph
from webgraph_ans_rs_spark.checkpoint import CheckpointManager
from webgraph_ans_rs_spark.operators.components import connected_components
from webgraph_ans_rs_spark.operators.labelprop import label_propagation
from webgraph_ans_rs_spark.operators.pagerank import pagerank


def _run(kernel, edges, verts, n_iter, cm=None):
    """(final vertex values, first superstep the call ran)."""
    if kernel == "pagerank":
        res = pagerank(edges, verts, max_iter=n_iter, tol=None, checkpoint_manager=cm)
        return {r.vertex: r.pr for r in res.ranks.collect()}, res.history[0]["iteration"]
    labels = label_propagation(edges, verts, num_iter=n_iter, checkpoint_manager=cm)
    return {r.vertex: r.label for r in labels.collect()}, None


@pytest.mark.parametrize(
    "kernel, job_id, n_iter, crash_at",
    [("pagerank", "pagerank", 5, 3), ("label_propagation", "lp", 3, 1)],
    ids=["pagerank", "label_propagation"],
)
def test_resume_identical(spark, kernel, job_id, n_iter, crash_at):
    """FIXTURES.md §6: kill after iteration k, restart, final state must be
    identical to an uninterrupted run."""
    edges, verts, es, n = seeded_random_graph(spark, n=120, m=500)
    want, _ = _run(kernel, edges, verts, n_iter)

    with tempfile.TemporaryDirectory() as root:
        cm = CheckpointManager(spark, root)
        # "crash" after crash_at supersteps
        _run(kernel, edges, verts, crash_at, cm)
        assert cm.committed_iterations(job_id) == list(range(1, crash_at + 1))
        # restart: must resume at crash_at and run only the rest
        got, first = _run(kernel, edges, verts, n_iter, cm)
        if first is not None:
            assert first == crash_at + 1
        assert got.keys() == want.keys()
        # identical up to float summation order inside groupBy partials
        assert max(abs(got[v] - want[v]) for v in want) < 1e-15

        # one lineage row set per superstep: a resumed run that re-ran the
        # committed supersteps would double their row counts
        lin = cm.lineage(job_id)
        assert lin is not None
        rows = lin.groupBy("iteration").agg(F.sum("rows").alias("n")).collect()
        assert {r.iteration: r.n for r in rows} == {i: 120 for i in range(1, n_iter + 1)}


def test_cc_with_checkpoints(spark):
    edges, verts, es, n = seeded_random_graph(spark, n=100, m=110)
    want = {r.vertex: r.component for r in connected_components(edges, verts).collect()}
    with tempfile.TemporaryDirectory() as root:
        cm = CheckpointManager(spark, root)
        got = {
            r.vertex: r.component
            for r in connected_components(edges, verts, checkpoint_manager=cm).collect()
        }
        assert got == want
        assert len(cm.committed_iterations("cc")) >= 1


def test_cc_resume_at_fixpoint_returns_labels(spark):
    """Resuming a previously-COMPLETED run with max_rounds == the last
    committed round (empty round range) must recognize the checkpointed
    edge set as a fixpoint and return labels — not raise 'no convergence'
    (round-4 ADVICE: components.py resume-at-fixpoint)."""
    edges, verts, es, n = seeded_random_graph(spark, n=80, m=90)
    want = {r.vertex: r.component for r in connected_components(edges, verts).collect()}
    with tempfile.TemporaryDirectory() as root:
        cm = CheckpointManager(spark, root)
        connected_components(edges, verts, checkpoint_manager=cm).collect()
        last = max(cm.committed_iterations("cc"))
        got = {
            r.vertex: r.component
            for r in connected_components(
                edges, verts, max_rounds=last, checkpoint_manager=cm
            ).collect()
        }
        assert got == want
