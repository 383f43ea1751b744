"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from perfbench import refs
from perfbench.metrics import Ledger, percentile
from perfbench.trace import Tracer, layer_of, layer_totals
from perfbench.workloads import Ctx, check_adjacency, check_labels, same_arcs


# -- percentile rule ----------------------------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(100)), 0.9) == 89
    assert percentile(list(range(200, 0, -1)), 0.9) == 180


def test_median_rank_needs_twenty_samples():
    assert percentile([1.0] * 19, 0.5) is None
    assert percentile([3.0, 1.0] * 10, 0.5) == 1.0


# -- event-log attribution ----------------------------------------------------

def _job(job_id, group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _stage(stage_id, tasks, run_ms, gc_ms=0, shuffle=0, spilled=0):
    acc = [
        {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
        {"Name": "internal.metrics.jvmGCTime", "Value": gc_ms},
        {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle},
        {"Name": "number of output rows", "Value": "12"},
    ]
    if spilled:
        acc.append({"Name": "internal.metrics.diskBytesSpilled", "Value": spilled})
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage_id, "Number of Tasks": tasks,
                           "Accumulables": acc}}


def test_event_log_sums_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        _job(0, "perfbench/pagerank/1", [0, 1]),
        _stage(0, 4, 100, gc_ms=5, shuffle=1000),
        _stage(1, 2, 50),
        _job(1, "perfbench/pagerank/1", [1, 2]),  # stage 1 skipped here
        _stage(2, 1, 10, spilled=64),
        _job(2, None, [3]),  # a job outside any span
        _stage(3, 8, 999),
        _job(3, "other-group", [4]),
        _stage(4, 8, 999),
        _job(4, "perfbench/catalog.lookup/2", [5]),
        _stage(5, 1, 7),
    ]
    (tmp_path / "pass-002").mkdir()
    with open(tmp_path / "pass-002" / "local-1", "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)
    totals = layer_totals(str(tmp_path))
    assert set(totals) == {"perfbench/pagerank/1", "perfbench/catalog.lookup/2"}
    pr = totals["perfbench/pagerank/1"]
    assert pr == {"jobs": 2, "tasks": 7, "task_ms": 160, "gc_ms": 5,
                  "shuffle_write_bytes": 1000, "spill_bytes": 64}
    assert totals["perfbench/catalog.lookup/2"]["task_ms"] == 7
    assert layer_of("perfbench/catalog.lookup/2") == "catalog.lookup"
    assert layer_of("perfbench/graph_build.scan/10") == "graph_build.scan"


# -- references on hand-checked graphs ----------------------------------------

def _edges(pairs):
    a = np.array(pairs, dtype=np.int64)
    return a[:, 0], a[:, 1]


def test_pagerank_reference_by_hand():
    # 0 -> 1, 1 -> 0, 1 -> 2; vertex 2 is dangling
    ids, pr = refs.pagerank(*_edges([(0, 1), (1, 0), (1, 2)]), iters=1)
    assert ids.tolist() == [0, 1, 2]
    d, n = 0.85, 3
    base = (1 - d) / n + d * (1 / 3) / n  # teleport plus vertex 2's dangling mass
    want = [base + d * (1 / 3) / 2, base + d * (1 / 3), base + d * (1 / 3) / 2]
    assert np.allclose(pr, want, rtol=1e-12)
    _, pr5 = refs.pagerank(*_edges([(0, 1), (1, 0), (1, 2)]), iters=5)
    assert pr5.sum() == pytest.approx(1.0)


def test_components_reference_by_hand():
    ids, cc = refs.components(*_edges([(5, 3), (3, 9), (7, 8), (2, 2)]))
    assert dict(zip(ids.tolist(), cc.tolist())) == {
        2: 2, 3: 3, 5: 3, 9: 3, 7: 7, 8: 7}


def test_label_propagation_reference_by_hand():
    # undirected: 0-1, 0-2, 1-2, 2-3
    ids, lp = refs.label_propagation(*_edges([(0, 1), (0, 2), (1, 2), (2, 3)]), iters=1)
    # 0 sees {1, 2}: tie -> 1; 1 sees {0, 2} -> 0; 2 sees {0, 1, 3} -> 0; 3 sees {2} -> 2
    assert dict(zip(ids.tolist(), lp.tolist())) == {0: 1, 1: 0, 2: 0, 3: 2}
    _, lp2 = refs.label_propagation(*_edges([(0, 1), (0, 2), (1, 2), (2, 3)]), iters=2)
    # 0 sees labels {0, 0} -> 0; 1 sees {1, 0} -> 0; 2 sees {1, 0, 2} -> 0; 3 sees {0} -> 0
    assert lp2.tolist() == [0, 0, 0, 0]


def test_label_propagation_prefers_count_over_label():
    # undirected neighbours: 0:{3} 1:{10,20} 2:{10,20} 3:{0,10} 10:{1,2,3} 20:{1,2}
    edges = _edges([(10, 1), (10, 2), (10, 3), (1, 20), (2, 20), (3, 0)])
    ids, lp1 = refs.label_propagation(*edges, iters=1)
    assert dict(zip(ids.tolist(), lp1.tolist())) == {0: 3, 1: 10, 2: 10, 3: 0, 10: 1, 20: 1}
    # step 2: vertex 10 sees labels {10, 10, 0}; two votes beat the smaller label
    _, lp2 = refs.label_propagation(*edges, iters=2)
    assert dict(zip(ids.tolist(), lp2.tolist()))[10] == 10


def test_triangles_reference_by_hand():
    assert refs.triangles(*_edges([(0, 1), (1, 2), (2, 0), (1, 3), (3, 2)])) == 2
    assert refs.triangles(*_edges([(0, 1), (1, 2), (2, 3)])) == 0


# Values printed by Spark 4.1 for xxhash64(<literal>), seed 42.
SPARK_XXHASH64 = {
    b"": -7444071767201028348,
    b"https://site1.example/p/1": -2510618747216535397,
    b"a string of more than thirty-two bytes, to cover the stripe loop": 101467986935211643,
}
SPARK_XXHASH64_LONG = {0: -5252525462095825812, 5: 6251837290343458373, -3: 1828574075509201448}


def test_xxhash64_matches_spark():
    for data, want in SPARK_XXHASH64.items():
        assert refs.xxhash64(data) == want
    for v, want in SPARK_XXHASH64_LONG.items():
        assert refs.xxhash64_long(v) == want
    # Spark: pmod(xxhash64(v), 16) = 12, 5, 8
    assert [refs.bucket_of(v, 16) for v in (0, 5, -3)] == [12, 5, 8]


def test_reference_cache_round_trip(tmp_path):
    path = str(tmp_path / "c" / "r.npz")
    calls = []

    def compute():
        calls.append(1)
        return {"a": np.arange(3), "n": 7, "t": np.array(["x", "yz"])}

    first = refs.cached(path, compute)
    again = refs.cached(path, compute)
    assert calls == [1]
    assert again["n"] == 7 and again["a"].tolist() == [0, 1, 2]
    assert again["t"].tolist() == first["t"].tolist()


# -- a corrupted output is counted as failed ----------------------------------

def _ctx() -> Ctx:
    return Ctx(None, 1, 4, "", Tracer(None, "test", ""), Ledger())


def test_corrupted_labels_raise_failed_frac():
    ids = np.array([1, 2, 3], dtype=np.int64)
    want = np.array([1, 1, 3], dtype=np.int64)
    good = pd.DataFrame({"vertex": [3, 1, 2], "component": [3, 1, 1]})
    bad = good.assign(component=[3, 1, 2])
    ctx = _ctx()
    _, t = ctx.call("components", lambda: good,
                    lambda df: check_labels(df, "component", ids, want, exact=True))
    assert t is not None and ctx.ledger.failed_frac == 0
    _, t = ctx.call("components", lambda: bad,
                    lambda df: check_labels(df, "component", ids, want, exact=True))
    assert t is None
    assert ctx.ledger.attempted == 2 and ctx.ledger.failed_frac == 0.5
    assert [v for _p, _t, v in ctx.values["components"]] != []
    assert len(ctx.values["components"]) == 1  # only the correct call is timed


def test_corrupted_pagerank_and_adjacency_fail():
    ids = np.array([1, 2], dtype=np.int64)
    pr = np.array([0.25, 0.75])
    ranks = pd.DataFrame({"vertex": [1, 2], "pr": [0.25, 0.75 + 1e-5]})
    assert not check_labels(ranks, "pr", ids, pr, exact=False)[0]
    assert check_labels(ranks.assign(pr=[0.25, 0.75 + 1e-13]), "pr", ids, pr, exact=False)[0]

    want = refs.edge_keys(np.array([1, 1, 2]), np.array([2, 3, 3]))
    assert check_adjacency({"src": [2, 1], "dsts": [[3], [2, 3]]}, want)[0]
    assert not check_adjacency({"src": [1, 2], "dsts": [[3, 2], [3]]}, want)[0]
    assert not check_adjacency({"src": [1, 2], "dsts": [[2], [3]]}, want)[0]
    assert not check_adjacency({"src": [1, 2, 2], "dsts": [[2, 3], [3], [4]]}, want)[0]
    # a source written twice repeats its arcs
    assert not check_adjacency({"src": [1, 2, 2], "dsts": [[2, 3], [3], [3]]}, want)[0]
    assert not same_arcs(np.array([1, 1, 2, 2]), np.array([2, 3, 3, 3]), want, "edges")[0]
    assert same_arcs(np.array([2, 1, 1]), np.array([3, 3, 2]), want, "edges")[0]


def test_call_that_raises_counts_as_failed():
    ctx = _ctx()

    def boom():
        raise RuntimeError("engine failure")

    out, t = ctx.call("triangles", boom, lambda n: (True, ""))
    assert out is None and t is None
    assert ctx.ledger.failed == 1 and ctx.ledger.failed_frac == 1.0
