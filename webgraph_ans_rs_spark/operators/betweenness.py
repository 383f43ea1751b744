"""Sampled k-bounded betweenness centrality (Brandes over a seed set).

The WebGraph/LAW toolchain ships betweenness alongside PageRank/HITS/
harmonic in its centrality suite; the reference's per-node successor
enumeration (/root/reference/examples/bench_random_access.rs:28-41) is
exactly the per-frontier access pattern each Brandes phase performs. Exact
betweenness is all-sources Brandes — O(V·E), out of reach at web scale —
so production systems estimate it from a source sample (Brandes & Pich,
"Centrality Estimation in Large Networks", 2007): run single-source
Brandes from k sampled seeds and sum the dependency scores. Bounding the
depth (k-bounded betweenness) keeps per-seed work proportional to the
seed's t-hop ball, the same budget discipline as the engine's
neighborhood-function family.

Distributed shape (all JVM, no Python in the loop):

- forward: level-synchronous multi-seed BFS carrying shortest-path counts
  sigma — per level ONE frontier⋈edges shuffle join, a map-side-combinable
  (seed, v) SUM(sigma) aggregation, and one anti join against the visited
  set; state is (seed, vertex) pairs, linear in seeds × reach, never
  all-pairs. sigma values are exact small integers in doubles (path counts
  within a t-hop ball), so partial-agg reorder cannot drift them.
- backward: per level, dependency delta(v) = Σ_{w∈succ(v), d(w)=d(v)+1}
  sigma(v)/sigma(w) · (1 + delta(w)) — one join of the level against the
  edge table plus two hash joins against the (next-level sigma, delta)
  frames, again keyed (seed, vertex).

Per-level frames are localCheckpoint'ed (the established superstep-loop
discipline: truncate lineage, keep the loop exchange count constant).
Hub destinations are naturally handled: the (seed, v) aggregation keys
spread each hub row across seeds, and per-vertex fan-out in the backward
join is the out-degree, not the in-degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def brandes_forward_probe(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """One forward sigma superstep WITHOUT the lineage-truncating
    checkpoint, for plan auditing: the
    (seed, v) sigma aggregation must be map-side combinable (partial_sum
    before its exchange) and the whole step JVM-only."""
    d0 = seeds.select(
        F.col("vertex").alias("seed"),
        F.col("vertex").alias("v"),
        F.lit(1.0).alias("sigma"),
    )
    e = edges.select(F.col("src").alias("v"), "dst")
    return (
        d0.join(e, "v")
        .select("seed", F.col("dst").alias("v"), "sigma")
        .groupBy("seed", "v")
        .agg(F.sum("sigma").alias("sigma"))
        .join(d0.select("seed", "v"), ["seed", "v"], "left_anti")
    )


def betweenness_sampled(
    edges: DataFrame, seeds: DataFrame, max_depth: int
) -> DataFrame:
    """(vertex, bc): betweenness estimated from single-source Brandes at
    every seed (column ``vertex``), shortest paths truncated at
    ``max_depth`` hops. ``edges`` must be a distinct (src, dst) table
    without self-loops (the engine's edge builders guarantee both).
    Output rows are every vertex reached at hop >= 1 from any seed; bc is
    the summed dependency, rounded to 4 dp. All float sums are sorted-
    order left folds from 0.0 (not hash aggs): dependency values are
    small-denominator rationals that land exactly on decimal half-grids,
    so only bit-identical IEEE adds make the rounded value stable across
    engines.

    Scale note: state is (seed, vertex) pairs — seeds × t-hop ball — so
    at web scale the seed set must be a FIXED sample size k independent
    of the corpus (the Brandes–Pich estimator's design: accuracy depends
    on k, not on n/k), e.g. the k smallest xxhash64(vertex). The driver
    gate's vertex % mod == 0 rule grows with n; it exists for oracle
    determinism at test scale, not as the production sampling rule."""
    d0 = (
        seeds.select("vertex")
        .dropDuplicates(["vertex"])
        .select(
            F.col("vertex").alias("seed"),
            F.col("vertex").alias("v"),
            F.lit(1.0).alias("sigma"),
        )
        .localCheckpoint(eager=True)
    )
    levels = [d0]
    seen = d0.select("seed", "v")
    e = edges.select(F.col("src").alias("v"), "dst")
    for _t in range(1, max_depth + 1):
        expanded = (
            levels[-1]
            .join(e, "v")
            .select("seed", F.col("dst").alias("v"), "sigma")
            .groupBy("seed", "v")
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = expanded.join(seen, ["seed", "v"], "left_anti").localCheckpoint(
            eager=True
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        # the union's branches are all checkpointed level frames, so the
        # anti-join reads ≤ max_depth cached RDDs — re-materializing the
        # growing union each level (the round-6 shape) only re-wrote the
        # whole (seed, v) state per level without bounding anything
        seen = seen.unionByName(nxt.select("seed", "v"))
    top = len(levels) - 1
    if top == 0:
        # nothing reachable: empty (vertex, bc) frame with the right schema
        return d0.select(
            F.col("v").alias("vertex"), F.lit(0.0).alias("bc")
        ).where(F.lit(False))
    # backward dependency accumulation, deepest level first
    deltas = {
        top: levels[top].select("seed", "v", F.lit(0.0).alias("delta"))
    }
    for t in range(top - 1, -1, -1):
        nxt_sig = levels[t + 1].select(
            "seed", F.col("v").alias("dst"), F.col("sigma").alias("sigma_w")
        )
        nxt_del = deltas[t + 1].select(
            "seed", F.col("v").alias("dst"), F.col("delta").alias("delta_w")
        )
        # dependency terms are small-denominator rationals that routinely
        # land EXACTLY on decimal half-grids, so hash-agg float sums are
        # not round-stable across engines; fold in sorted successor order
        # (the HLL-oracle discipline: both engines execute identical IEEE
        # adds on identical inputs — dst is unique per (seed, v) group)
        contrib = (
            levels[t]
            .join(e, "v")
            .join(nxt_sig, ["seed", "dst"])
            .join(nxt_del, ["seed", "dst"])
            .select(
                "seed",
                "v",
                F.struct(
                    F.col("dst"),
                    (
                        F.col("sigma") / F.col("sigma_w")
                        * (F.lit(1.0) + F.col("delta_w"))
                    ).alias("term"),
                ).alias("dt"),
            )
            .groupBy("seed", "v")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list("dt")),
                    F.lit(0.0),
                    lambda acc, s: acc + s["term"],
                ).alias("c")
            )
        )
        deltas[t] = (
            levels[t]
            .select("seed", "v")
            .join(contrib, ["seed", "v"], "left")
            .select(
                "seed", "v", F.coalesce("c", F.lit(0.0)).alias("delta")
            )
            .localCheckpoint(eager=True)
        )
    alld = deltas[1]
    for t in range(2, top + 1):
        alld = alld.unionByName(deltas[t])
    # per seed a vertex sits at exactly one level, so (seed, v) rows are
    # unique here; fold the cross-seed sum in seed order for the same
    # engine-identical IEEE-add guarantee as the backward pass
    return (
        alld.select(
            F.col("v").alias("vertex"),
            F.struct(F.col("seed"), F.col("delta")).alias("sd"),
        )
        .groupBy("vertex")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("sd")),
                    F.lit(0.0),
                    lambda acc, s: acc + s["delta"],
                ),
                4,
            ).alias("bc")
        )
    )
