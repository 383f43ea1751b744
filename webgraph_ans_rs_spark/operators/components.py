"""Connected components — two implementations, same exact semantics.

``connected_components`` (the default) is Kiveris et al.'s alternating
large-star / small-star: the state is a shrinking *edge set*, and every
per-round operation is keyed by a plain vertex id whose fan-in is bounded
by its current degree. This is the web-scale-safe formulation: there is no
join keyed on a converging component label (in a web graph ~90% of vertices
end up sharing one label, so a label-keyed join funnels nearly all rows
through a single shuffle key — the scale defect of the pointer-jump
variant below, kept for cross-checking). Per round:

  large-star: symmetrize E; per vertex u with neighbors Γ(u),
              m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
  small-star: orient E big→small; per vertex u with smaller neighbors N,
              m = min(N ∪ {u}) = min(N); emit (v, m) for v ∈ N ∪ {u}, v≠m.

Both steps are a partial-agg-safe ``groupBy(u).min`` plus a join of the
edge set against that V-sized min table (AQE skew-split covers hub keys —
fan-in bounded by degree, not component size). At fixpoint the edge set is
a star forest rooted at each component's minimum id; convergence is
detected with an order-insensitive signature aggregation (count + sum of
per-edge hashes), no extra join. O(log² n) rounds worst case.

``connected_components_pointer_jump`` is the round-1 min-label +
pointer-doubling formulation: one (vertex, label) row per vertex, per round
label' = min(label, min over neighbors, label(label)). Exact same output;
its jump self-join keys on the converging label, so it is the small-graph /
cross-check path only.

Lineage is truncated per round (localCheckpoint); with a CheckpointManager
rounds commit to parquet and runs resume (analogue of the reference's
per-node phase/state resume points, /root/reference/src/ans/mod.rs:62-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.derived_graph import undirected_symmetrize
from .superstep import _edge_signature


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
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """(vertex long, component long) via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    ``shuffle_partitions``: optional LayoutPlan.shuffle_partitions for the
    per-round edge repartition (defaults to the session shuffle setting).
    """
    # canonical big→small orientation; self-loops vanish, duplicates merged
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )

    start_round = 0
    if checkpoint_manager is not None:
        # resume fingerprint: the canonical input edge set's (count, hash) —
        # snapshots from a run over different edges are rejected
        n0, sig0 = _edge_signature(e)
        ckpt_params = {"edges_n": n0, "edges_sig": str(sig0)}
        resumed = checkpoint_manager.latest_snapshot(job_id, params=ckpt_params)
        if resumed is not None:
            start_round, e = resumed
    # round-7: no per-round repartition("src") — the next consumer is the
    # symmetrizing union (whose output partitioning is unknown to the
    # planner regardless) followed by a groupBy that shuffles anyway, so
    # the explicit exchange of the full star edge set bought nothing; the
    # dedup that canonicalizes each round already leaves a well-spread
    # HashPartitioning(src, dst). An explicit override is honored when the
    # caller passes shuffle_partitions (the LayoutPlan path).
    repart = (
        (lambda df: df.repartition(shuffle_partitions, "src"))
        if shuffle_partitions
        else (lambda df: df)
    )
    e = repart(e).localCheckpoint(eager=True)

    sig = _edge_signature(e)
    converged = False
    for rnd in range(start_round + 1, max_rounds + 1):
        e_new = _star_round(e, repart).localCheckpoint(eager=True)
        new_sig = _edge_signature(e_new)
        e = e_new
        if checkpoint_manager is not None:
            checkpoint_manager.commit(
                job_id, rnd, e, {"edges": new_sig[0]}, params=ckpt_params
            )
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # Either the loop exhausted max_rounds, or a resume landed at
        # start_round == max_rounds (empty round range — e.g. re-running a
        # job whose previous run converged exactly at its last round). The
        # snapshot may already BE the fixpoint: probe one round lazily and
        # accept if the signature is stable; otherwise fail loudly —
        # _star_labels over a non-star edge set can emit multiple rows per
        # vertex and non-minimal labels (large/small-star converges in
        # O(log^2 n) rounds, so a realistic max_rounds only trips this on
        # resume-at-fixpoint).
        if _edge_signature(_star_round(e, repart)) == sig:
            converged = True
        else:
            raise RuntimeError(
                f"connected_components: no convergence within max_rounds={max_rounds}"
            )
    return _star_labels(e, verts)


def _star_round(e: DataFrame, repart) -> DataFrame:
    """One alternating large-star + small-star round over a canonical
    big→small edge set; returns the new big→small edge set (lazy)."""
    # --- large-star -------------------------------------------------------
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    large = (
        sym.where(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .dropDuplicates(["src", "dst"])
        # materialized (round-7): BOTH small-star branches (the center
        # mins and the attach join) read this frame — without the barrier
        # the whole large-star shuffle join executed twice per round
        .localCheckpoint(eager=True)
    )
    # --- small-star -------------------------------------------------------
    # input edges are big→small already (large-star emits v > m);
    # smins feeds the attach join AND the center rows — checkpointed so
    # the per-center min aggregation over the star set runs once
    smins = (
        large.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .localCheckpoint(eager=True)
    )
    attached = (
        large.join(smins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    centers = smins.select("src", F.col("m").alias("dst"))
    return repart(attached.unionAll(centers).dropDuplicates(["src", "dst"]))


def connected_components_pointer_jump(
    edges: DataFrame,
    verts: DataFrame,
    max_rounds: int = 50,
    checkpoint_manager=None,
    job_id: str = "cc",
) -> DataFrame:
    """(vertex long, component long) for every vertex in ``verts``;
    isolated vertices are their own component."""
    und = undirected_symmetrize(edges).persist()
    und.count()

    labels = verts.select("vertex", F.col("vertex").alias("label"))
    start_round = 0
    if checkpoint_manager is not None:
        resumed = checkpoint_manager.latest_snapshot(job_id)
        if resumed is not None:
            start_round, labels = resumed
    labels = labels.repartition("vertex").localCheckpoint(eager=True)

    for rnd in range(start_round + 1, max_rounds + 1):
        nbr_min = (
            und.join(labels, und["dst"] == labels["vertex"])
            .groupBy(und["src"].alias("vertex"))
            .agg(F.min("label").alias("nbr_min"))
        )
        jump = (
            labels.alias("l1")
            .join(
                labels.select(
                    F.col("vertex").alias("jv"), F.col("label").alias("jlabel")
                ).alias("l2"),
                F.col("l1.label") == F.col("jv"),
            )
            .select(F.col("l1.vertex").alias("vertex"), F.col("jlabel"))
        )
        new_labels = (
            labels.join(nbr_min, "vertex", "left")
            .join(jump, "vertex", "left")
            .select(
                "vertex",
                F.least(
                    "label",
                    F.coalesce("nbr_min", F.col("label")),
                    F.coalesce("jlabel", F.col("label")),
                ).alias("label"),
            )
            .repartition("vertex")
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.select("vertex", F.col("label").alias("old")).alias("o"), "vertex")
            .where(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if checkpoint_manager is not None:
            checkpoint_manager.commit(
                job_id, rnd, labels, {"changed": changed}
            )
        if changed == 0:
            break
    und.unpersist()
    return labels.select("vertex", F.col("label").alias("component"))
