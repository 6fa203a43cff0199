"""Checkpointed, resumable pipeline runs with per-partition lineage.

north_rule requirement: "checkpoints per-partition lineage + rows/sec
metrics so any stage resumes without recompute".

The id space of the input is split into deterministic chunks; each
chunk runs as an independent Spark job whose output lands in
``<out>/chunk=<k>/`` with a sidecar manifest recording lineage (input
range, row counts in/out, wall time, rows/sec, config). A re-run skips
every chunk whose manifest is already present and valid — resume costs
zero recompute. Inside a chunk, Spark's own task retry handles
partition-level failure; across chunks, the manifest is the durable
unit of progress.

This mirrors how the 100 TB job would run: the chunk key is the
Iceberg partition (or file-group) id, the manifest store is the
job-state table. Manifest IO goes through the Hadoop FileSystem API
(spinix_spark.io.hdfs) once a session is bound, so ``out_dir`` may be
an ``s3a://``/``gs://``/``hdfs://`` path — the manifest commit is
write-tmp-then-rename (readers never see a partial manifest).
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Callable

_LOG = logging.getLogger(__name__)

from pyspark.sql import DataFrame, SparkSession

from spinix_spark.io import hdfs


class ChunkedRunner:
    def __init__(
        self,
        out_dir: str,
        n_chunks: int,
        spark: SparkSession | None = None,
    ) -> None:
        self.out_dir = out_dir.rstrip("/")
        self.n_chunks = n_chunks
        # the session binds lazily (run() receives one); until then,
        # metadata reads fall back to the active session if any
        self.spark = spark

    def _sess(self) -> SparkSession:
        if self.spark is None:
            self.spark = SparkSession.active()
        return self.spark

    def _manifest_dir(self) -> str:
        return f"{self.out_dir}/_lineage"

    def _manifest_path(self, k: int) -> str:
        return f"{self._manifest_dir()}/chunk-{k:05d}.json"

    def chunk_done(self, k: int) -> bool:
        # Read-only metadata probe: "can't read it" == "not done".
        # Failure modes here are NOT OSError — hdfs.read_text surfaces
        # FS errors as Py4JJavaError, and _sess() raises when no
        # SparkSession is bound yet — so catch broadly; run() re-raises
        # real FS errors at write time. The swallowed exception is
        # logged so a transient FS outage that reclassifies done chunks
        # as pending leaves a diagnosable trail (idempotent but costly).
        try:
            text = hdfs.read_text(self._sess(), self._manifest_path(k))
            return text is not None and json.loads(text).get("status") == "done"
        except Exception as exc:
            _LOG.warning(
                "chunk_done(%d): treating unreadable manifest %s as pending (%s: %s)",
                k, self._manifest_path(k), type(exc).__name__, exc,
            )
            return False

    def run(
        self,
        spark: SparkSession,
        make_chunk_df: Callable[[SparkSession, int, int], DataFrame],
        transform: Callable[[DataFrame], DataFrame],
        input_count: bool = True,
    ) -> dict:
        """Process all pending chunks; returns the run summary.

        ``make_chunk_df(spark, k, n_chunks)`` produces chunk k's input;
        ``transform`` is the pipeline. Output: parquet per chunk +
        lineage manifest."""
        self.spark = spark
        hdfs.mkdirs(spark, self._manifest_dir())
        summary = {"chunks_total": self.n_chunks, "chunks_run": 0, "chunks_skipped": 0,
                   "rows_in": 0, "rows_out": 0, "wall_s": 0.0}
        for k in range(self.n_chunks):
            if self.chunk_done(k):
                summary["chunks_skipped"] += 1
                continue
            t0 = time.time()
            df_in = make_chunk_df(spark, k, self.n_chunks)
            n_in = df_in.count() if input_count else -1
            out = transform(df_in)
            path = f"{self.out_dir}/chunk={k}"
            out.write.mode("overwrite").parquet(path)
            n_out = spark.read.parquet(path).count()
            wall = time.time() - t0
            manifest = {
                "status": "done",
                "chunk": k,
                "n_chunks": self.n_chunks,
                "rows_in": n_in,
                "rows_out": n_out,
                "wall_s": round(wall, 3),
                "rows_per_sec": round(n_in / wall, 1) if n_in > 0 else None,
                "output": path,
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "spark_conf": {
                    "master": spark.sparkContext.master,
                    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                },
            }
            # write-then-rename commit (atomic on HDFS/file; readers
            # never observe a partial manifest on object stores either)
            hdfs.write_text_atomic(
                spark, self._manifest_path(k), json.dumps(manifest)
            )
            summary["chunks_run"] += 1
            summary["rows_in"] += max(n_in, 0)
            summary["rows_out"] += n_out
            summary["wall_s"] += wall
        return summary

    def lineage(self) -> list[dict]:
        out = []
        try:
            sess = self._sess()
        except Exception:
            return out
        for k in range(self.n_chunks):
            # skip unreadable AND unparseable manifests — chunk_done
            # maps both to "not done", so lineage() must not crash on
            # what the runner itself would simply re-execute
            try:
                text = hdfs.read_text(sess, self._manifest_path(k))
                if text is not None:
                    out.append(json.loads(text))
            except Exception as exc:
                _LOG.debug(
                    "lineage: skipping unreadable manifest %s (%s: %s)",
                    self._manifest_path(k), type(exc).__name__, exc,
                )
                continue
        return out
