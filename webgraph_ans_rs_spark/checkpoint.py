"""Per-superstep checkpointing with lineage + metrics, and mid-run resume.

The DataFrame analogue of the reference's per-node resume points: an
``ANSCompressorPhase { state, stream_pointer }`` is captured per node while
encoding (/root/reference/src/ans/mod.rs:62-68,
src/bvgraph/writers/bvgraph_encoder.rs:167-171) and serialized as
``.states`` / ``.pointers`` (random_access.rs:198-221) so decoding can jump
into the middle of the stream. Here, each iterative job commits its full
vertex-state snapshot per superstep plus a lineage row per *partition* (row
counts) and per-iteration metrics; a restarted job reads the max committed
iteration and continues — producing bit-identical final output (asserted by
tests/test_checkpoint_resume.py). PageRank and label propagation resume and
commit through the superstep driver (operators/superstep.py ``Loop.start``
and ``Loop.run``); connected components still calls this class from its own
loop.

Layout (parquet; an Iceberg catalog would make these table snapshots, the
protocol is identical):

  {root}/{job_id}/snapshots/iter=NNNNN/    vertex-state parquet (+ _SUCCESS)
  {root}/{job_id}/lineage/                 (job_id, iteration, partition_id,
                                            rows, committed_at, metric keys)
  {root}/{job_id}/params/                  job-parameter fingerprint (JSON)

All filesystem access goes through Spark's Hadoop FS layer (the same layer
the snapshot writes use), so resume works on any scheme the cluster can
write — file://, hdfs://, s3a:// — not just the local disk.

Commit order is snapshot-then-lineage; an interrupted commit leaves either
no _SUCCESS (snapshot ignored) or a snapshot without lineage (still
resumable) — never a lineage row pointing at a missing snapshot that
``latest_snapshot`` would trust, because resume keys off _SUCCESS markers.

Jobs pass their parameters (damping, input fingerprint, …) to ``commit``;
the first commit records them and any later resume with different
parameters raises instead of silently reusing snapshots from a different
run (a resumed PageRank with a different damping would be wrong, not just
stale).
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._params_cache: dict[str, str] = {}

    # -- paths -------------------------------------------------------------
    def _snap_dir(self, job_id: str, iteration: int) -> str:
        return f"{self.root}/{job_id}/snapshots/iter={iteration:05d}"

    def _lineage_dir(self, job_id: str) -> str:
        return f"{self.root}/{job_id}/lineage"

    def _params_dir(self, job_id: str) -> str:
        return f"{self.root}/{job_id}/params"

    # -- Hadoop FS helpers (work on any scheme, not just local paths) ------
    def _fs_and_path(self, path: str):
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    def _exists(self, path: str) -> bool:
        fs, p = self._fs_and_path(path)
        return bool(fs.exists(p))

    def _list_names(self, path: str) -> list[str]:
        fs, p = self._fs_and_path(path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    # -- params fingerprint --------------------------------------------------
    def stored_params(self, job_id: str) -> dict | None:
        path = self._params_dir(job_id)
        if not self._exists(path + "/_SUCCESS"):
            return None
        rows = self.spark.read.text(path).collect()
        return json.loads("".join(r.value for r in rows))

    def _check_or_store_params(self, job_id: str, params: dict | None) -> None:
        if params is None:
            return
        canon = json.dumps(params, sort_keys=True)
        if self._params_cache.get(job_id) == canon:
            return
        stored = self.stored_params(job_id)
        if stored is None:
            self.spark.createDataFrame([(canon,)], "value string").coalesce(
                1
            ).write.mode("overwrite").text(self._params_dir(job_id))
        elif json.dumps(stored, sort_keys=True) != canon:
            raise ValueError(
                f"checkpoint params mismatch for job '{job_id}': "
                f"stored={stored!r} current={params!r} — refusing to resume "
                f"snapshots from a run with different parameters"
            )
        self._params_cache[job_id] = canon

    # -- commit ------------------------------------------------------------
    def commit(
        self,
        job_id: str,
        iteration: int,
        state: DataFrame,
        metrics: dict | None = None,
        params: dict | None = None,
    ) -> None:
        """Atomically persist the superstep state + per-partition lineage."""
        self._check_or_store_params(job_id, params)
        snap = self._snap_dir(job_id, iteration)
        state.write.mode("overwrite").parquet(snap)
        committed = self.spark.read.parquet(snap)
        per_part = (
            committed.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .withColumn("job_id", F.lit(job_id))
            .withColumn("iteration", F.lit(iteration))
            .withColumn("metrics", F.lit(json.dumps(metrics or {}, sort_keys=True)))
            .withColumn(
                "committed_at",
                F.lit(datetime.datetime.now(datetime.timezone.utc).isoformat()),
            )
            .select("job_id", "iteration", "partition_id", "rows", "metrics", "committed_at")
        )
        per_part.write.mode("append").parquet(self._lineage_dir(job_id))

    # -- resume ------------------------------------------------------------
    def committed_iterations(self, job_id: str) -> list[int]:
        base = f"{self.root}/{job_id}/snapshots"
        out = []
        for name in self._list_names(base):
            if name.startswith("iter=") and self._exists(f"{base}/{name}/_SUCCESS"):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def latest_snapshot(
        self, job_id: str, params: dict | None = None
    ) -> tuple[int, DataFrame] | None:
        """Max committed (iteration, state); raises if ``params`` conflict
        with the parameters the snapshots were committed under."""
        self._check_or_store_params(job_id, params)
        its = self.committed_iterations(job_id)
        if not its:
            return None
        it = its[-1]
        return it, self.spark.read.parquet(self._snap_dir(job_id, it))

    def lineage(self, job_id: str) -> DataFrame | None:
        path = self._lineage_dir(job_id)
        if not self._exists(path):
            return None
        return self.spark.read.parquet(path)
