"""Connected components — Kiveris et al.'s alternating large-star /
small-star over a shrinking *edge set*.

Every per-round operation is keyed by a plain vertex id whose fan-in is
bounded by its current degree. This is the web-scale-safe formulation:
there is no join keyed on a converging component label (in a web graph
~90% of vertices end up sharing one label, so a label-keyed join would
funnel nearly all rows through a single shuffle key). Per round:

  large-star: symmetrize E; per vertex u with neighbors Γ(u),
              m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
  small-star: orient E big→small; per vertex u with smaller neighbors N,
              m = min(N ∪ {u}) = min(N); emit (v, m) for v ∈ N ∪ {u}, v≠m.

Both steps are a partial-agg-safe ``groupBy(u).min`` plus a join of the
edge set against that V-sized min table (AQE skew-split covers hub keys —
fan-in bounded by degree, not component size). At fixpoint the edge set is
a star forest rooted at each component's minimum id. O(log² n) rounds
worst case.

A round is one superstep of the superstep driver (operators/superstep.py),
with AQE coalescing left on. The driver barriers every round, detects the
fixpoint with ``signature_delta`` (an order-insensitive count + hash-sum
signature of the edge set, one aggregation per round, no extra join) and,
with a CheckpointManager, commits each round and resumes from the latest
one over the same input edges (the analogue of the reference's per-node
phase/state resume points, src/ans/mod.rs:62-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import Loop, signature_delta


def _star_labels(edges_star: DataFrame, verts: DataFrame) -> DataFrame:
    """Star edge set (v, m) → (vertex, component); isolated vertices and
    star roots are their own component."""
    ptr = edges_star.select(F.col("src").alias("vertex"), F.col("dst").alias("component"))
    return verts.join(ptr, "vertex", "left").select(
        "vertex", F.coalesce("component", F.col("vertex")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    verts: DataFrame,
    max_rounds: int = 50,
    checkpoint_manager=None,
    job_id: str = "cc",
) -> DataFrame:
    """(vertex long, component long) via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")."""
    # canonical big→small orientation; self-loops vanish, duplicates merged
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    # no per-round repartition("src"): the next consumer is the symmetrizing
    # union followed by a groupBy that shuffles anyway, and the dedup that
    # canonicalizes each round already leaves a well-spread partitioning
    with Loop(edges.sparkSession, copartition=False) as loop:
        # resume fingerprint: the canonical input edge set — snapshots from a
        # run over different edges are rejected
        loop.start(e, checkpoint_manager=checkpoint_manager, job_id=job_id, edges=e)
        changed = signature_delta()
        res = loop.run(lambda state, _: _star_round(loop, state), max_rounds, delta=changed, tol=0)
        # Either the loop exhausted max_rounds, or a resume landed at
        # max_rounds (empty round range — e.g. re-running a job whose
        # previous run converged exactly at its last round). The snapshot
        # may already BE the fixpoint: probe one round lazily and accept if
        # the signature is stable; otherwise fail loudly — _star_labels over
        # a non-star edge set can emit multiple rows per vertex and
        # non-minimal labels (large/small-star converges in O(log^2 n)
        # rounds, so a realistic max_rounds only trips this on
        # resume-at-fixpoint).
        if not res.converged and changed(_star_round(loop, res.state), res.state):
            raise RuntimeError(
                f"connected_components: no convergence within max_rounds={max_rounds}"
            )
    return _star_labels(res.state, verts)


def _star_round(loop: Loop, e: DataFrame) -> DataFrame:
    """One alternating large-star + small-star round over a canonical
    big→small edge set; returns the new big→small edge set (lazy)."""
    # --- large-star -------------------------------------------------------
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    # materialized: BOTH small-star branches (the center mins and the
    # attach join) read this frame — without the barrier the whole
    # large-star shuffle join executed twice per round
    large = loop.barrier(
        sym.where(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    # --- small-star -------------------------------------------------------
    # input edges are big→small already (large-star emits v > m);
    # smins feeds the attach join AND the center rows — checkpointed so
    # the per-center min aggregation over the star set runs once
    smins = loop.barrier(large.groupBy("src").agg(F.min("dst").alias("m")))
    attached = (
        large.join(smins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    centers = smins.select("src", F.col("m").alias("dst"))
    return attached.unionAll(centers).dropDuplicates(["src", "dst"])
