"""Seeded benchmark inputs, built only from JVM expressions.

Every value is a pure function of (seed, row position) through xxhash64, so
the same seed gives the same rows at any parallelism and no Python runs in
the generating tasks. The analytics graph mirrors a web graph: Zipf-like
outdegree (exponent 1.2, capped at 48) plus one link per vertex to one of 64
hubs, which gives the hub-skewed in-degree the shuffle-heavy kernels must
absorb.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_DEG = 48
ZIPF_EXP = 1.2
N_HUBS = 64
RECRAWL_MAX_DEG = 8


def _h(seed: int, tag: str, *cols) -> Column:
    return F.xxhash64(F.lit(seed), F.lit(tag), *cols)


def _uniform(seed: int, tag: str, *cols) -> Column:
    """Uniform in (0, 1], keyed by (seed, tag, cols)."""
    return (F.pmod(_h(seed, tag, *cols), F.lit(1000003)) + 1) / F.lit(1000004.0)


def zipf_hub_edges(
    spark: SparkSession, n_vertices: int, seed: int, num_partitions: int
) -> DataFrame:
    """(src long, dst long) over dense ids 0..n-1: distinct, no self-loops."""
    v = spark.range(0, n_vertices, 1, num_partitions).withColumnRenamed("id", "src")
    deg = F.least(
        F.lit(MAX_DEG),
        F.greatest(
            F.lit(1), F.pow(_uniform(seed, "deg", "src"), F.lit(-1.0 / ZIPF_EXP)).cast("int")
        ),
    )
    far = v.withColumn("j", F.explode(F.sequence(F.lit(0), deg - 1))).select(
        "src", F.pmod(_h(seed, "dst", "src", "j"), F.lit(n_vertices)).alias("dst")
    )
    hubs = v.select("src", F.pmod(_h(seed, "hub", "src"), F.lit(N_HUBS)).alias("dst"))
    return (
        far.unionAll(hubs)
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _recrawl_src(seed: int, n_vertices: int, rnd: Column, k: Column) -> Column:
    return F.pmod(_h(seed, "rsrc", rnd, k), F.lit(n_vertices))


def recrawl_batches(
    spark: SparkSession, n_vertices: int, seed: int, rounds: int, sources: int
) -> DataFrame:
    """(round int, src long, dst long): per round, the complete new outlink
    set of ``sources`` re-crawled pages (1..8 links each), distinct rows,
    no self-loops."""
    rk = spark.range(0, rounds * sources, 1, 1).select(
        (F.col("id") / sources).cast("int").alias("round"),
        (F.col("id") % sources).alias("k"),
    )
    src = _recrawl_src(seed, n_vertices, F.col("round"), F.col("k"))
    deg = 1 + F.pmod(_h(seed, "rdeg", "round", "k"), F.lit(RECRAWL_MAX_DEG))
    return (
        rk.select("round", "k", src.alias("src"), F.explode(F.sequence(F.lit(0), deg - 1)).alias("j"))
        .select(
            "round", "src",
            F.pmod(_h(seed, "rdst", "round", "k", "j"), F.lit(n_vertices)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["round", "src", "dst"])
    )


def lookup_keys(
    spark: SparkSession, n_vertices: int, seed: int, rounds: int, sources: int, per_round: int
) -> DataFrame:
    """(round int, i int, key long): the first half of each round's keys are
    sources that round re-crawled, the second half uniform vertices."""
    ri = spark.range(0, rounds * per_round, 1, 1).select(
        (F.col("id") / per_round).cast("int").alias("round"),
        (F.col("id") % per_round).cast("int").alias("i"),
    )
    touched = _recrawl_src(
        seed, n_vertices, F.col("round"), F.pmod(_h(seed, "pick", "round", "i"), F.lit(sources))
    )
    uniform = F.pmod(_h(seed, "key", "round", "i"), F.lit(n_vertices))
    return ri.select(
        "round", "i", F.when(F.col("i") < per_round // 2, touched).otherwise(uniform).alias("key")
    )


def probes(spark: SparkSession, n_vertices: int, seed: int, count: int) -> DataFrame:
    """(vertex long): ``count`` uniform draws with replacement."""
    return spark.range(0, count, 1, 1).select(
        F.pmod(_h(seed, "probe", "id"), F.lit(n_vertices)).alias("vertex")
    )
