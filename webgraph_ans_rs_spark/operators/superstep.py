"""One superstep driver for the Pregel-shaped iterative kernels.

A kernel supplies its setup (loop invariants, initial state) and its step
function ``step(state, iteration) -> next state (lazy)``; this module owns
the iteration policy around them, written once:

* AQE partition coalescing is off for the loop (``Loop(spark)``), so a
  gather's HashPartitioning(vertex, P) survives the barrier into the next
  superstep's join, which then plans no exchange. ``__exit__`` restores the
  setting and releases the persisted loop invariants (``keep``); on an
  exception it also releases every barrier the loop made, so a failed call
  leaves the session as it found it.
* ``start`` resumes from a ``CheckpointManager`` snapshot (fingerprinted by
  the parameters and the edge set, so a snapshot of another run is
  rejected) and places the first barrier; ``run`` places the
  ``localCheckpoint`` barriers, tests convergence against ``tol``, commits a
  snapshot per superstep and keeps the per-superstep ``history``. This is
  the resume mechanism of the reference's per-node ``ANSCompressorPhase``
  states (src/ans/mod.rs:62-68).
* ``capture()`` hands out the frame of superstep 2 of the next loop — the
  step function's output before its barrier — planned inside that loop's
  scope while its invariants are cached: plan audits (tools/plan_audit.py)
  inspect the frame the production loop builds, not a re-creation of it.
  While it is active the loop barriers every superstep, so the frame holds
  exactly one superstep whatever the kernel's cadence.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COALESCE_KEY = "spark.sql.adaptive.coalescePartitions.enabled"

# set only inside ``capture()``, which restores it: a hook on the driver,
# so kernels keep their public signatures and audits call them unchanged
_capture: SimpleNamespace | None = None


def _edge_signature(df: DataFrame) -> tuple[int, object]:
    """Order-insensitive (count, hash-sum) signature of an edge set.
    decimal(38,0) sum: overflow-free under ANSI mode for any edge count."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("sig"),
    ).first()
    return row.n, row.sig


def signature_delta():
    """A ``delta`` for loops whose state is an edge set: 0.0 when the new
    state's (count, hash) signature equals the previous state's, else 1.0.
    The last signature is remembered, so each call computes one (the first
    call also signs its ``old``)."""
    last = None

    def delta(new: DataFrame, old: DataFrame) -> float:
        nonlocal last
        if last is None:
            last = _edge_signature(old)
        prev, last = last, _edge_signature(new)
        return float(last != prev)

    return delta


def plan(df: DataFrame) -> DataFrame:
    """Fix ``df``'s physical plan now (QueryExecution keeps it): cache
    substitution and partitioning are resolved against the current session
    state, not the one at inspection time."""
    df._jdf.queryExecution().executedPlan()
    return df


@contextmanager
def capture():
    """Yields a box whose ``.frame`` becomes the frame of superstep 2 of the
    next ``Loop.run`` (before its barrier), planned in the loop's scope.
    Loops barrier every superstep meanwhile, so the frame holds one
    superstep over a barriered input."""
    global _capture
    box = SimpleNamespace(frame=None)
    prev, _capture = _capture, box
    try:
        yield box
    finally:
        _capture = prev


@dataclass
class LoopResult:
    state: DataFrame
    iterations: int
    delta: float  # last measured delta; inf when no delta is measured
    converged: bool  # delta <= tol was reached
    history: list[dict] = field(default_factory=list)
    loop_sec: float = 0.0


class Loop:
    """Scope and policy of one superstep loop (see module docstring).

    ``copartition=False`` leaves AQE coalescing alone, for kernels whose
    joins gain nothing from a pinned partition count."""

    def __init__(self, spark, copartition: bool = True):
        self.spark = spark
        self.copartition = copartition
        self._kept: list[DataFrame] = []
        # RDD ids, not frames: holding the frames would keep superseded
        # barriers from being garbage-collected during a long loop
        self._barrier_ids: list[int] = []
        self.cm = None

    def __enter__(self) -> Loop:
        if self.copartition:
            self._coalesce_prev = self.spark.conf.get(COALESCE_KEY, "true")
            self.spark.conf.set(COALESCE_KEY, "false")
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self.copartition:
            self.spark.conf.set(COALESCE_KEY, self._coalesce_prev)
        for df in self._kept:
            df.unpersist()
        if exc_type is not None:
            persisted = self.spark.sparkContext._jsc.getPersistentRDDs()
            for rdd in filter(None, map(persisted.get, self._barrier_ids)):
                rdd.unpersist(False)

    def keep(self, df: DataFrame) -> DataFrame:
        """Persist a loop invariant until the scope exits."""
        df = df.persist()
        self._kept.append(df)
        return df

    def barrier(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` and truncate its lineage."""
        df = df.localCheckpoint(eager=True)
        self._barrier_ids.append(df._jdf.queryExecution().analyzed().rdd().id())
        return df

    def start(
        self,
        init: DataFrame,
        partition=None,
        checkpoint_manager=None,
        job_id: str = "",
        params: dict | None = None,
        edges: DataFrame | None = None,
    ) -> DataFrame:
        """Barrier the starting state — ``init``, or the latest snapshot
        committed under the same ``params`` and ``edges`` fingerprint —
        after applying ``partition`` to it; returns it."""
        self.start_iter = 0
        if checkpoint_manager is not None:
            self.cm, self.job_id, self.params = checkpoint_manager, job_id, dict(params or {})
            if edges is not None:
                en, esig = _edge_signature(edges)
                self.params.update({"edges_n": en, "edges_sig": str(esig)})
            resumed = checkpoint_manager.latest_snapshot(job_id, params=self.params)
            if resumed is not None:
                self.start_iter, init = resumed
        if partition is not None:
            init = partition(init)
        self.state = self.barrier(init)
        return self.state

    def run(
        self,
        step,
        max_iter: int,
        delta=None,
        tol: float | None = 0.0,
        truncate_every: int | None = None,
    ) -> LoopResult:
        """Supersteps ``start+1 .. max_iter``. ``delta(new, old)`` (on
        barriered frames) stops the loop once it is <= ``tol``.

        Barriers: every superstep by default. With ``truncate_every=k``
        only every k-th superstep — skipped when one step or fewer remains,
        since the caller's action materializes the last one — plus the last
        superstep, and every superstep whose delta is measured or whose
        snapshot is committed, or while ``capture()`` is active."""
        t_loop = time.time()
        history: list[dict] = []
        d = float("inf")
        converged = False
        it = self.start_iter
        for it in range(self.start_iter + 1, max_iter + 1):
            t0 = time.time()
            new = step(self.state, it)
            if _capture is not None and _capture.frame is None and it == 2:
                _capture.frame = plan(new)
            if (
                truncate_every is None
                or _capture is not None
                or delta is not None
                or self.cm is not None
                or it == max_iter
                or (it % truncate_every == 0 and max_iter - it > 1)
            ):
                new = self.barrier(new)
            if delta is not None:
                d = delta(new, self.state)
            self.state = new
            wall_ms = int((time.time() - t0) * 1000)
            history.append({"iteration": it, "wall_ms": wall_ms, "delta": d})
            if self.cm is not None:
                self.cm.commit(
                    self.job_id, it, new, {"delta": d, "wall_ms": wall_ms}, params=self.params
                )
            if delta is not None and d <= tol:
                converged = True
                break
        return LoopResult(self.state, it, d, converged, history, time.time() - t_loop)
