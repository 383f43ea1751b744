"""HITS (Kleinberg hubs & authorities) — single-exchange CSR half-steps.

The reference engine's kernel surface is PageRank-shaped gather/scatter
over the compressed adjacency (the BVGraph layout serves any left- or
right-multiplication by the adjacency matrix); HITS is the canonical
second spectral kernel a web-graph user runs on the same edge table, and
it inherits the flagship loop's discipline (operators/pagerank.py):

  auth half-step:  csr_fwd ⋈ hub on src (exchange- and sort-free: both
                   sides share HashPartitioning(·, P); shuffle_hash hint
                   builds the V-sized score map) → narrow explode of the
                   successor arrays → ∪ zero rows → groupBy(vertex).sum
                   — exactly ONE exchange, the E-sized gather
                   (tools/plan_audit.py check 20).
  hub half-step:   the same shape over the TRANSPOSED CSR (in-neighbor
                   lists), gathering the fresh authority scores.
  normalize:       DEFERRED. Gathers are linear and sum-normalization is
                   a uniform scaling, so scaling commutes through the
                   whole loop: the half-steps run UNNORMALIZED and the
                   two totals are read once at the end (two driver-scalar
                   aggs) — per-half-step normalization would force a
                   materialization barrier + action per half-step, which
                   measured 2-3× the whole loop's cost at 8.6M edges.
                   Identical vector in exact arithmetic; the float
                   difference vs the oracle's per-half-step division is
                   ~1e-16 relative (uniform scaling preserves relative
                   precision), far below the gate's 6dp rounding — the
                   same argument as pagerank's max_segment note. Raw
                   magnitudes grow like (mean degree)^half-steps: ~1e10
                   for 3 iterations at web degrees, nowhere near double
                   range. Sum instead of the textbook L2: identical fixed
                   point up to scaling and the unrolled DuckDB oracle
                   replays it with plain SUM — no sqrt ulps.

Each half-step is one superstep of the superstep driver
(operators/superstep.py), which owns the coalescing scope, the cached
loop invariants (both CSRs, zero rows) and the localCheckpoint barriers
(every ``_TRUNCATE_EVERY`` half-steps). The loop ends on the final
authority half-step, which the driver always barriers, and the final hub
half-step runs after it. ``max_segment`` splits hub adjacency lists in BOTH
directions (graph_build.build_csr_segments — the transpose is where real
web graphs put their 1e7-degree hubs); segments gather independently and
the partial sums fold in the same shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import Loop

# lineage truncation cadence, in half-steps (see pagerank._TRUNCATE_EVERY)
_TRUNCATE_EVERY = 4


def _csr(edges: DataFrame, p: int, max_segment: int | None) -> DataFrame:
    """(src, dsts) in HashPartitioning(src, p): ``groupBy("src")`` already
    emits it (p is the session setting and coalescing is off in the loop);
    the segmented build groups by (src, _seg), so it is re-exchanged."""
    if max_segment is None:
        return edges.groupBy("src").agg(F.collect_list("dst").alias("dsts"))
    from .graph_build import build_csr_segments

    return build_csr_segments(edges, max_segment).select("src", "dsts").repartition(p, "src")


def _gather(csr: DataFrame, score: DataFrame, zeros: DataFrame) -> DataFrame:
    """One half-step gather: scatter ``score.sc`` along the adjacency
    arrays, fold the zero seed rows into the same shuffle (IEEE x+0.0
    == x), partial-sum map-side — exactly one exchange."""
    return (
        csr.join(score.hint("shuffle_hash"), csr["src"] == score["vertex"])
        .select(F.explode("dsts").alias("vertex"), F.col("sc").alias("c"))
        .unionAll(zeros)
        .groupBy("vertex")
        .agg(F.sum("c").alias("sc"))
    )


def hits(
    edges: DataFrame,
    verts: DataFrame,
    num_iter: int = 3,
    max_segment: int | None = None,
) -> DataFrame:
    """(vertex, auth, hub) after ``num_iter`` sum-normalized iterations.

    auth_i(v) = Σ_{u→v} hub_{i-1}(u) / Σ_raw;  hub_i(u) = Σ_{u→v} auth_i(v)
    / Σ_raw. Vertices with no in-edges (out-edges) get auth (hub) = 0 —
    including the edgeless-graph corner, where the normalization total of
    an all-zero frame is clamped to 1 so scores stay 0.0, never NaN.

    Overflow guard: a half-step grows max |score| by at most a factor n
    (degree ≤ n, scores start at 1), so after h half-steps it is at most
    n^(h+1). Only when (2·num_iter + 1)·log10(n) > 250 (DBL_MAX is 1e308)
    is every half-step barriered and its input divided by its max |score|;
    uniform scaling commutes through the linear gathers and cancels in the
    final division, so the scores are unchanged.
    """
    if num_iter < 1:
        raise ValueError(f"hits: num_iter must be >= 1, got {num_iter}")
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with Loop(spark) as loop:
        e = edges.select("src", "dst")
        csr_fwd = loop.keep(_csr(e, p, max_segment))
        csr_fwd.count()
        csr_rev = loop.keep(
            _csr(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")), p, max_segment)
        )
        csr_rev.count()
        zeros = loop.keep(verts.select("vertex", F.lit(0.0).alias("c")))
        n = zeros.count()
        loop.start(
            verts.select("vertex", F.lit(1.0).alias("sc")),
            partition=lambda df: df.repartition(p, "vertex"),
        )
        rescale = (2 * num_iter + 1) * math.log10(max(n, 2)) > 250.0

        def step(score: DataFrame, half: int) -> DataFrame:
            if rescale:
                m = score.agg(F.max(F.abs("sc"))).first()[0]
                if m:  # all-zero frame (edgeless graph) — nothing to scale
                    score = score.select("vertex", (F.col("sc") / F.lit(m)).alias("sc"))
            return _gather(csr_fwd if half % 2 else csr_rev, score, zeros)

        # the final authority frame is read three times (the last hub
        # gather, its total, the final join): as the loop's last superstep
        # it is barriered before any of them runs
        auth_raw = loop.run(
            step, 2 * num_iter - 1, truncate_every=None if rescale else _TRUNCATE_EVERY
        ).state
        hub_raw = loop.barrier(step(auth_raw, 2 * num_iter))
        atot = auth_raw.agg(F.sum("sc")).first()[0] or 1.0  # 0/None → 1
        htot = hub_raw.agg(F.sum("sc")).first()[0] or 1.0
        return (
            auth_raw.select("vertex", (F.col("sc") / F.lit(atot)).alias("auth"))
            .join(
                hub_raw.select("vertex", (F.col("sc") / F.lit(htot)).alias("hub")),
                "vertex",
            )
            .select("vertex", "auth", "hub")
        )
