"""The two workloads. Each one writes its seeded inputs during set-up,
computes its references without engine code, and then runs passes; every
engine call in a pass is timed from outside the engine and its output is
checked against the reference.

* ``crawl_serve``  HTML extract (Arrow UDF), edge build (dedup shuffle) and
  bucketed adjacency write of a synthetic crawl, then one round of a
  single-client closed loop on a versioned adjacency table: a copy-on-write
  recrawl merge and point lookups on the new snapshot. No graph kernel runs.
* ``analytics``    the four whole-graph kernels on a hub-skewed graph, a
  batch successor lookup and a full sequential scan of the adjacency table.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from webgraph_ans_rs_spark import datagen
from webgraph_ans_rs_spark.operators.components import connected_components
from webgraph_ans_rs_spark.operators.extract import extract_text_and_links
from webgraph_ans_rs_spark.operators.graph_build import (
    edges_from_pages,
    successors,
    successors_batch,
    write_adjacency_table,
)
from webgraph_ans_rs_spark.operators.incremental import (
    commit_adjacency_partitioned,
    merge_adjacency,
)
from webgraph_ans_rs_spark.operators.labelprop import label_propagation
from webgraph_ans_rs_spark.operators.pagerank import pagerank
from webgraph_ans_rs_spark.operators.triangles import triangle_count
from webgraph_ans_rs_spark.sources.catalog import VersionedTable

from . import graphgen, refs
from .metrics import Ledger
from .trace import Tracer

# Bump when a generator or reference changes, so stale caches are not read.
REFS_VERSION = 1


@dataclass
class Ctx:
    spark: object
    seed: int
    cores: int
    cache: str
    tracer: Tracer
    ledger: Ledger
    pass_index: int = 0
    values: dict[str, list[tuple[int, bool, float]]] = field(default_factory=dict)

    def observe(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(
            (self.pass_index, self.tracer.traced, float(value))
        )

    def call(self, layer: str, fn: Callable, check: Callable) -> tuple[object, float | None]:
        """Run one engine call in a span, then check its output. Returns
        (output, seconds), with seconds None when the call raised or its
        output was wrong."""
        try:
            with self.tracer.span(layer):
                out = fn()
            seconds = self.tracer.spans[-1].seconds
            ok, detail = check(out)
        except Exception:
            self.ledger.error(layer)
            return None, None
        if not self.ledger.record(layer, ok, detail):
            return out, None
        self.observe(layer, seconds)
        return out, seconds


def du(path: str) -> int:
    """Bytes of the data files under ``path`` (skips ``_SUCCESS``, ``.crc``)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, n))
            for n in files
            if not n.startswith((".", "_"))
        )
    return total


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["src", "dst"])
    return t["src"].to_numpy().astype(np.int64), t["dst"].to_numpy().astype(np.int64)


def same_arcs(src: np.ndarray, dst: np.ndarray, want: np.ndarray, what: str):
    """(src, dst) holds every arc of ``want`` (sorted, distinct) exactly once."""
    got = refs.edge_keys(src, dst)
    if len(src) == len(want) and np.array_equal(got, want):
        return True, ""
    return False, f"{what}: {len(src)} arcs ({len(got)} distinct), expected {len(want)}"


def check_adjacency(rows, want: np.ndarray) -> tuple[bool, str]:
    """(src, dsts) rows hold every arc of ``want`` once, each list sorted."""
    lists = [np.asarray(d, dtype=np.int64) for d in rows["dsts"]]
    if not all(bool(np.all(d[1:] > d[:-1])) for d in lists):
        return False, "unsorted successor list"
    src = np.repeat(np.asarray(rows["src"], dtype=np.int64), [len(d) for d in lists])
    dst = np.concatenate(lists) if lists else np.empty(0, np.int64)
    return same_arcs(src, dst, want, "adjacency")


def check_labels(df, col: str, ids: np.ndarray, want: np.ndarray, exact: bool):
    df = df.sort_values("vertex")
    got_ids = df["vertex"].to_numpy(np.int64)
    got = df[col].to_numpy()
    if not np.array_equal(got_ids, ids):
        return False, f"vertex set differs ({len(got_ids)} vs {len(ids)})"
    ok = np.array_equal(got, want) if exact else np.allclose(got, want, rtol=1e-6, atol=1e-12)
    return ok, "" if ok else f"{col} differs at {int(np.sum(got != want))} vertices"


class Ingest:
    """Extract, edge build and adjacency write over synthetic crawl pages."""

    N_PAGES = 6_000

    def setup(self, ctx: Ctx, d: str) -> None:
        datagen.synthetic_pages(
            ctx.spark, self.N_PAGES, ctx.seed, num_partitions=ctx.cores
        ).write.parquet(os.path.join(d, "pages"))

    def prepare(self, ctx: Ctx, d: str) -> None:
        self.pages = os.path.join(d, "pages")
        key = f"crawl-v{REFS_VERSION}-{self.N_PAGES}-{ctx.seed}.npz"
        self.ref = refs.cached(os.path.join(ctx.cache, key), lambda: self._refs(ctx.seed))
        self.text = dict(zip(map(datagen.url_of, range(self.N_PAGES)), self.ref["text"].tolist()))
        self.edges = refs.edge_keys(self.ref["src"], self.ref["dst"])

    def _refs(self, seed: int) -> dict:
        n = self.N_PAGES
        h = [refs.xxhash64(datagen.url_of(i).encode()) for i in range(n)]
        pairs = [(h[i], h[t]) for i in range(n) for t in datagen.outlink_ids(i, n, seed)]
        src, dst = np.array(pairs, dtype=np.int64).T
        keys = refs.edge_keys(src, dst)
        return {
            "text": np.array([datagen.page_text(i, seed) for i in range(n)]),
            "src": keys["s"], "dst": keys["d"],
        }

    def _check_text(self, path: str):
        t = pq.read_table(path, columns=["url", "text"]).to_pydict()
        got = dict(zip(t["url"], t["text"]))
        bad = sum(got.get(u) != txt for u, txt in self.text.items())
        ok = bad == 0 and len(t["url"]) == len(self.text)
        return ok, "" if ok else f"{bad} pages with wrong text, {len(t['url'])} rows"

    def run_pass(self, ctx: Ctx, d: str) -> None:
        spark = ctx.spark
        ext, edges_path, adj = (os.path.join(d, n) for n in ("extract", "edges", "adj"))
        pages = spark.read.parquet(self.pages)
        _, t1 = ctx.call(
            "extract",
            lambda: extract_text_and_links(pages).select("url", "text", "outlinks").write.parquet(ext),
            lambda _: self._check_text(ext),
        )
        _, t2 = ctx.call(
            "graph_build.edges",
            lambda: edges_from_pages(spark.read.parquet(ext)).write.parquet(edges_path),
            lambda _: same_arcs(*read_edges(edges_path), self.edges, "edges"),
        )
        _, t3 = ctx.call(
            "graph_build.write",
            lambda: write_adjacency_table(
                spark, spark.read.parquet(edges_path), adj,
                table_name=f"perfbench_adj_p{ctx.pass_index}",
            ),
            lambda _: check_adjacency(
                pq.read_table(adj, columns=["src", "dsts"]).to_pydict(), self.edges
            ),
        )
        if None in (t1, t2, t3):
            return
        ctx.observe("pages_per_s", self.N_PAGES / (t1 + t2 + t3))
        ctx.observe("bits_per_link", du(adj) * 8 / len(self.edges))


class Analytics:
    name = "analytics"
    N_VERTICES = 12_000
    SUPERSTEPS = 5
    LP_ITERS = 2
    PROBES = 10_000

    def setup(self, ctx: Ctx, d: str) -> None:
        spark = ctx.spark
        edges = os.path.join(d, "edges")
        graphgen.zipf_hub_edges(spark, self.N_VERTICES, ctx.seed, ctx.cores).write.parquet(edges)
        write_adjacency_table(
            spark, spark.read.parquet(edges), os.path.join(d, "adj"),
            table_name=f"perfbench_adj_{os.path.basename(d).replace('-', '_')}",
        )
        graphgen.probes(spark, self.N_VERTICES, ctx.seed, self.PROBES).write.parquet(
            os.path.join(d, "probes")
        )

    def prepare(self, ctx: Ctx, d: str) -> None:
        spark = ctx.spark
        src, dst = read_edges(os.path.join(d, "edges"))
        self.keys = refs.edge_keys(src, dst)
        key = f"{self.name}-v{REFS_VERSION}-{self.N_VERTICES}-{ctx.seed}.npz"
        self.ref = refs.cached(os.path.join(ctx.cache, key), lambda: self._refs(src, dst))
        probe_set = np.unique(pq.read_table(os.path.join(d, "probes"))["vertex"].to_numpy())
        self.batch_keys = self.keys[np.isin(self.keys["s"], probe_set)]
        self.edges = spark.read.parquet(os.path.join(d, "edges"))
        self.verts = (
            self.edges.select(F.col("src").alias("vertex"))
            .union(self.edges.select(F.col("dst").alias("vertex")))
            .distinct()
        )
        self.adj = spark.read.parquet(os.path.join(d, "adj"))
        self.probes = spark.read.parquet(os.path.join(d, "probes"))
        self.bits_per_link = du(os.path.join(d, "adj")) * 8 / len(self.keys)

    def _refs(self, src: np.ndarray, dst: np.ndarray) -> dict:
        ids, pr = refs.pagerank(src, dst, self.SUPERSTEPS)
        _, cc = refs.components(src, dst)
        _, lp = refs.label_propagation(src, dst, self.LP_ITERS)
        return {"ids": ids, "pr": pr, "cc": cc, "lp": lp, "triangles": refs.triangles(src, dst)}

    def run_pass(self, ctx: Ctx, d: str) -> None:
        edges, verts, ids = self.edges, self.verts, self.ref["ids"]
        _, t = ctx.call(
            "pagerank",
            lambda: pagerank(edges, verts, max_iter=self.SUPERSTEPS, tol=None).ranks.toPandas(),
            lambda df: check_labels(df, "pr", ids, self.ref["pr"], exact=False),
        )
        if t is not None:
            ctx.observe("pagerank_edges_per_s", self.SUPERSTEPS * len(self.keys) / t)
        ctx.call(
            "components",
            lambda: connected_components(edges, verts).toPandas(),
            lambda df: check_labels(df, "component", ids, self.ref["cc"], exact=True),
        )
        ctx.call(
            "labelprop",
            lambda: label_propagation(edges, verts, num_iter=self.LP_ITERS).toPandas(),
            lambda df: check_labels(df, "label", ids, self.ref["lp"], exact=True),
        )
        want_tri = int(self.ref["triangles"])
        ctx.call(
            "triangles",
            lambda: triangle_count(edges).first()[0],
            lambda n: (n == want_tri, f"{n} triangles, expected {want_tri}"),
        )
        _, t = ctx.call(
            "graph_build.lookup_batch",
            lambda: successors_batch(self.adj, self.probes).select("src", "dsts").toPandas(),
            lambda df: check_adjacency(df, self.batch_keys),
        )
        if t is not None:
            ctx.observe("batch_lookup_ns_per_arc", t * 1e9 / len(self.batch_keys))
        _, t = ctx.call(
            "graph_build.scan",
            lambda: self.adj.select("src", "dsts").toPandas(),
            lambda df: check_adjacency(df, self.keys),
        )
        if t is not None:
            ctx.observe("scan_ns_per_arc", t * 1e9 / len(self.keys))
        ctx.observe("bits_per_link", self.bits_per_link)


class Serve:
    """One round per pass: a recrawl merge, then point lookups on the latest
    snapshot; half the keys were just re-crawled, half are uniform."""

    N_VERTICES = 12_000
    BUCKETS = 16
    SOURCES = 30
    LOOKUPS = 10
    ROUNDS = 64

    def setup(self, ctx: Ctx, d: str) -> None:
        spark = ctx.spark
        edges = os.path.join(d, "serve_edges")
        graphgen.zipf_hub_edges(spark, self.N_VERTICES, ctx.seed, ctx.cores).write.parquet(edges)
        table = VersionedTable(spark, os.path.join(d, "catalog"), "adj")
        commit_adjacency_partitioned(table, spark.read.parquet(edges), self.BUCKETS)
        args = (spark, self.N_VERTICES, ctx.seed, self.ROUNDS, self.SOURCES)
        graphgen.recrawl_batches(*args).write.parquet(os.path.join(d, "batches"))
        graphgen.lookup_keys(*args, self.LOOKUPS).write.parquet(os.path.join(d, "keys"))

    def prepare(self, ctx: Ctx, d: str) -> None:
        src, dst = read_edges(os.path.join(d, "serve_edges"))
        self.model = self._group(src, dst)
        b = pq.read_table(os.path.join(d, "batches")).to_pandas()
        self.batches = {
            r: self._group(g["src"].to_numpy(np.int64), g["dst"].to_numpy(np.int64))
            for r, g in b.groupby("round")
        }
        k = pq.read_table(os.path.join(d, "keys")).to_pandas().sort_values(["round", "i"])
        self.keys = {r: g["key"].astype(np.int64).tolist() for r, g in k.groupby("round")}
        self.table = VersionedTable(ctx.spark, os.path.join(d, "catalog"), "adj")
        self.batch_df = ctx.spark.read.parquet(os.path.join(d, "batches"))

    @staticmethod
    def _group(src: np.ndarray, dst: np.ndarray) -> dict[int, list[int]]:
        keys = refs.edge_keys(src, dst)
        starts = np.flatnonzero(np.r_[True, keys["s"][1:] != keys["s"][:-1]])
        return {
            int(s): d.tolist()
            for s, d in zip(keys["s"][starts], np.split(keys["d"], starts[1:]))
        }

    def _check_merge(self, sid: int, before: int, delta: dict[int, list[int]]):
        if sid <= before:
            return False, f"snapshot {sid} not after {before}"
        want = sorted({refs.bucket_of(s, self.BUCKETS) for s in delta})
        got = self.table.manifest(sid).get("replaced")
        return got == want, f"replaced buckets {got}, expected {want}"

    def _check_lookup(self, rows, u: int):
        want = self.model.get(u)
        got = [list(r.dsts) for r in rows]
        ok = got == ([want] if want else [])
        return ok, "" if ok else f"successors({u}) = {got}, expected {want}"

    def run_pass(self, ctx: Ctx, d: str) -> None:
        r = ctx.pass_index
        delta = self.batches[r]
        before = self.table.snapshots()[-1]
        batch = self.batch_df.where(F.col("round") == r).select("src", "dst")
        sid, t = ctx.call(
            "incremental.merge",
            lambda: merge_adjacency(ctx.spark, self.table, batch),
            lambda sid: self._check_merge(sid, before, delta),
        )
        self.model.update(delta)
        if t is not None:
            m = self.table.manifest(sid)
            ctx.observe("incremental.touched_frac", len(m["replaced"]) / self.BUCKETS)
            delta_arcs = sum(len(v) for v in delta.values())
            ctx.observe("incremental.bytes_written", du(m["data_dir"]) / delta_arcs)
        for u in self.keys[r]:
            b = refs.bucket_of(u, self.BUCKETS)
            ctx.call(
                "catalog.lookup",
                lambda: successors(self.table.read_partition(b), u).collect(),
                lambda rows: self._check_lookup(rows, u),
            )


class CrawlServe:
    name = "crawl_serve"

    def __init__(self) -> None:
        self.ingest, self.serve = Ingest(), Serve()
        self.max_passes = Serve.ROUNDS

    def setup(self, ctx: Ctx, d: str) -> None:
        self.ingest.setup(ctx, d)
        self.serve.setup(ctx, d)

    def prepare(self, ctx: Ctx, d: str) -> None:
        self.ingest.prepare(ctx, d)
        self.serve.prepare(ctx, d)

    def run_pass(self, ctx: Ctx, d: str) -> None:
        self.ingest.run_pass(ctx, d)
        self.serve.run_pass(ctx, d)


WORKLOADS = {w.name: w for w in (CrawlServe, Analytics)}
