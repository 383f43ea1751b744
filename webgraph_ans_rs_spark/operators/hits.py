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

Loop-invariant state (both CSRs, zero rows) is cached once; lineage is
truncated every ``truncate_every`` half-steps (localCheckpoint bounds
plan depth without a per-half-step barrier). ``max_segment`` splits hub
adjacency lists in BOTH directions (graph_build.build_csr_segments — the
transpose is where real web graphs put their 1e7-degree hubs); segments
gather independently and the partial sums fold in the same shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import Loop, plan


def _csr(edges: DataFrame, p: int, max_segment: int | None) -> DataFrame:
    from .pagerank import _pin_src_partitions

    if max_segment is not None:
        from .graph_build import build_csr_segments

        base = build_csr_segments(edges, max_segment)
    else:
        base = edges.groupBy("src").agg(F.collect_list("dst").alias("dsts"))
    # groupBy("src") already emits HashPartitioning(src, P) — only re-
    # exchange when the requested p differs or the build was segmented
    # (grouped by (src, _seg)); see pagerank._pin_src_partitions
    return _pin_src_partitions(
        base.select("src", "dsts"), p, edges.sparkSession,
        force=max_segment is not None,
    )


def _invariants(loop: Loop, edges: DataFrame, verts: DataFrame, p: int,
                max_segment: int | None) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cached forward CSR, transposed CSR and zero rows (uncounted)."""
    e = edges.select("src", "dst")
    csr_fwd = loop.keep(_csr(e, p, max_segment))
    csr_fwd.count()
    csr_rev = loop.keep(
        _csr(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")), p, max_segment)
    )
    csr_rev.count()
    return csr_fwd, csr_rev, loop.keep(verts.select("vertex", F.lit(0.0).alias("c")))


def _gather(csr: DataFrame, score: DataFrame, zeros: DataFrame) -> DataFrame:
    """One half-step gather: scatter ``score.sc`` along the adjacency
    arrays, fold the zero seed rows into the same shuffle (IEEE x+0.0
    == x), partial-sum map-side — exactly one exchange."""
    return (
        csr.join(score.hint("shuffle_hash"), csr["src"] == score["vertex"])
        .select(F.explode("dsts").alias("vertex"), F.col("sc").alias("c"))
        .unionAll(zeros)
        .groupBy("vertex")
        .agg(F.sum("c").alias("raw"))
    )


def hits(
    edges: DataFrame,
    verts: DataFrame,
    num_iter: int = 3,
    shuffle_partitions: int | None = None,
    max_segment: int | None = None,
    truncate_every: int = 4,
) -> DataFrame:
    """(vertex, auth, hub) after ``num_iter`` sum-normalized iterations.

    auth_i(v) = Σ_{u→v} hub_{i-1}(u) / Σ_raw;  hub_i(u) = Σ_{u→v} auth_i(v)
    / Σ_raw. Vertices with no in-edges (out-edges) get auth (hub) = 0 —
    including the edgeless-graph corner, where the normalization total of
    an all-zero frame is clamped to 1 so scores stay 0.0, never NaN.

    Overflow guard: unnormalized magnitudes grow like (mean degree)^half-
    steps, which overflows double for large ``num_iter`` on high-degree
    graphs, so every ``truncate_every`` half-steps the checkpointed frame
    is additionally RESCALED by its running max (uniform scaling commutes
    through the linear gathers and cancels in the final division — the
    scores are unchanged; the checkpoint is an action anyway, so the max
    is one cheap driver agg on an already-materialized frame). Growth is
    thus bounded by (max degree)^truncate_every between rescales.
    """
    if num_iter < 1:
        raise ValueError(f"hits: num_iter must be >= 1, got {num_iter}")
    spark = edges.sparkSession
    p = shuffle_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the superstep driver's scope: AQE partition coalescing off inside the
    # loop, so the gather emits HashPartitioning(vertex, P) and the next
    # half-step's join is exchange-free (the pagerank co-partitioning
    # contract); the cached invariants are released on exit
    with Loop(spark) as loop:
        csr_fwd, csr_rev, zeros = _invariants(loop, edges, verts, p, max_segment)
        n = zeros.count()
        score = (
            verts.select("vertex", F.lit(1.0).alias("sc"))
            .repartition(p, "vertex")
            .localCheckpoint(eager=True)
        )
        # Conditional overflow guard (round-7): a half-step can grow the
        # max magnitude by at most a factor n (degree ≤ n, scores start at
        # 1), so max |score| after h half-steps ≤ n^(h+1). When
        # (2·num_iter + 1)·log10(n) stays far inside double range the
        # rescale agg + division are pure overhead and are SKIPPED —
        # zero extra jobs, identical fixed point (uniform scaling cancels
        # in the final normalization either way). DBL_MAX is 1e308; 250
        # leaves two orders of magnitude of slack per half-step.
        import math

        need_rescale = (2 * num_iter + 1) * math.log10(max(n, 2)) > 250.0

        def _rescale(frame):
            # running-max rescale at the (already materialized) barrier:
            # keeps raw magnitudes ~O(1) so long loops never overflow;
            # scaling commutes with the gathers and cancels at the end
            if not need_rescale:
                return frame
            m = frame.agg(F.max(F.abs("sc"))).first()[0]
            if not m:  # all-zero frame (edgeless graph) — nothing to scale
                return frame
            return frame.select("vertex", (F.col("sc") / F.lit(m)).alias("sc"))

        auth_raw = None
        half = 0
        for i in range(num_iter):
            last = i == num_iter - 1
            auth_raw = _gather(csr_fwd, score, zeros).select(
                "vertex", F.col("raw").alias("sc")
            )
            half += 1
            if last:
                # materialize the FINAL auth frame before the last hub
                # gather consumes it: it is read three times (the gather,
                # its total, the final join) — checkpointing it after the
                # hub gather re-executed the whole half-step (one full
                # E-sized gather wasted, measured ~0.8 s at 8.6M edges)
                auth_raw = auth_raw.localCheckpoint(eager=True)
            elif half % truncate_every == 0:
                auth_raw = _rescale(auth_raw.localCheckpoint(eager=True))
            score = _gather(csr_rev, auth_raw, zeros).select(
                "vertex", F.col("raw").alias("sc")
            )
            half += 1
            if half % truncate_every == 0 and not last:
                score = _rescale(score.localCheckpoint(eager=True))
        hub_raw = score.localCheckpoint(eager=True)
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


def hits_halfstep_probe(
    edges: DataFrame,
    verts: DataFrame,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Un-executed second half-step frame on the production shapes (first
    half-step executed + checkpointed exactly as the loop does) — for
    tools/plan_audit.py check 20: a HITS half-step must plan exactly ONE
    exchange, like the PageRank superstep. Built and planned inside the
    same coalescing scope as ``hits``, while the invariants are cached."""
    spark = edges.sparkSession
    p = shuffle_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with Loop(spark) as loop:
        csr_fwd, csr_rev, zeros = _invariants(loop, edges, verts, p, None)
        zeros.count()
        score = (
            verts.select("vertex", F.lit(1.0).alias("sc"))
            .repartition(p, "vertex")
            .localCheckpoint(eager=True)
        )
        araw = _gather(csr_fwd, score, zeros).localCheckpoint(eager=True)
        auth = araw.select("vertex", (F.col("raw") / F.lit(2.0)).alias("sc"))
        return plan(_gather(csr_rev, auth, zeros))
