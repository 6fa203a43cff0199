"""Hash-bucketed, per-bucket-versioned parquet tables for streaming
state: the per-device table of
:func:`spinix_spark.streaming.detect_stream.stream_detect_scalable`
and the admitted band-key set of
:func:`spinix_spark.streaming.dedup_stream.stream_neardup_filter`.

Layout is bucket-major: a row's bucket is
``pmod(xxhash64(key), n_buckets)`` and each bucket keeps its own
version history::

    {base}/bucket={B}/v{N}/part-*.parquet

- **Writes are O(delta).** A micro-batch writes version N of only the
  buckets its rows fall in (``write_version``); every other bucket
  keeps its older versions, byte-untouched. The caller restricts the
  prior table to those buckets first (``in_buckets_of``, a semi-join on
  the bucket id) and merges its updates into them.
- **Replay contract.** The table as of batch N is, per bucket, the
  newest version STRICTLY BELOW N (``read_latest``). A checkpointed
  ``foreachBatch`` replay of batch N therefore re-reads the pre-N state
  even when the crashed attempt already wrote some or all of its
  ``v{N}`` bucket dirs; the replay then replaces them (the reference's
  evaluate-then-insert ordering, engine.go:218-221).
- **Retention is per bucket** (``prune``): the newest ``retain + 1``
  versions of each bucket stay, so a cold bucket never loses its only
  copy.
- **Metadata goes through the Hadoop FileSystem API** (io/hdfs.py),
  never ``os.*``, so the table works alike on ``file:``, ``hdfs:``,
  ``s3a:``, ``gs:`` and ``abfs:`` paths.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spinix_spark.io.hdfs import hadoop_fs as _hadoop_fs


class BucketedVersionTable:
    """A versioned parquet table hash-bucketed on ``key_col``.

    ``n_buckets`` is a layout constant for the table's lifetime: the
    bucket of a key is ``pmod(xxhash64(key), n_buckets)`` (xxhash64 is
    deterministic across Spark versions/sessions). Only buckets that
    ever receive rows materialise on disk, so a large default costs
    nothing at small scale; 256 keeps single-bucket rewrites under
    ~0.4 % of the table at any scale.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: str,
        key_col: str = "device_id",
        n_buckets: int = 256,
    ):
        self.spark = spark
        self.base = base.rstrip("/")
        self.key_col = key_col
        self.n_buckets = n_buckets

    # --- layout helpers ---

    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets)
        ).cast("int")

    def _bucket_path(self, bucket: int, version: int | None = None) -> str:
        p = posixpath.join(self.base, f"bucket={bucket}")
        return p if version is None else posixpath.join(p, f"v{version}")

    # --- metadata (Hadoop FileSystem — never os.*) ---

    def bucket_versions(self) -> dict[int, list[int]]:
        """{bucket: sorted versions present} — one glob listing."""
        fs, base_p, jvm = _hadoop_fs(self.spark, self.base)
        if not fs.exists(base_p):
            return {}
        glob = jvm.org.apache.hadoop.fs.Path(
            posixpath.join(self.base, "bucket=*", "v*")
        )
        out: dict[int, list[int]] = {}
        statuses = fs.globStatus(glob)
        for st in statuses or []:
            if not st.isDirectory():
                continue
            p = st.getPath()
            try:
                b = int(p.getParent().getName().split("=", 1)[1])
                v = int(p.getName()[1:])
            except (ValueError, IndexError):
                continue  # foreign dir (e.g. an in-flight _stage)
            out.setdefault(b, []).append(v)
        for vs in out.values():
            vs.sort()
        return out

    # --- read ---

    def latest_paths(
        self, below: int, buckets: list[int] | None = None
    ) -> list[str]:
        """Per-bucket newest version STRICTLY BELOW ``below`` (the
        replay-idempotency contract), optionally restricted to a
        bucket subset."""
        want = None if buckets is None else set(buckets)
        paths = []
        for b, vs in self.bucket_versions().items():
            if want is not None and b not in want:
                continue
            cand = [v for v in vs if v < below]
            if cand:
                paths.append(self._bucket_path(b, max(cand)))
        return sorted(paths)

    def read_latest(
        self, below: int, buckets: list[int] | None = None
    ) -> DataFrame | None:
        """The table as of batch ``below`` (union of every bucket's
        newest version strictly below it); None when nothing is
        persisted yet. ``buckets`` restricts the read to a subset —
        the O(delta) read side of a dirty-bucket merge."""
        paths = self.latest_paths(below, buckets)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    # --- write ---

    def in_buckets_of(self, df: DataFrame, keys: DataFrame) -> DataFrame:
        """Rows of ``df`` in the buckets that hold a row of ``keys``: a
        semi-join on the bucket id, so the bucket set never reaches the
        driver. Restricting the prior table this way before merging
        ``keys`` into it makes ``write_version`` rewrite exactly the
        buckets of ``keys``."""
        b = self._bucket_expr()
        return (
            df.withColumn("_bucket", b)
            .join(keys.select(b.alias("_bucket")).distinct(), "_bucket", "left_semi")
            .drop("_bucket")
        )

    def dirty_buckets(self, df: DataFrame) -> list[int]:
        """Buckets containing at least one row of ``df`` — a distinct
        over the bucket id, at most ``n_buckets`` rows collected."""
        return sorted(
            r.b
            for r in df.select(self._bucket_expr().alias("b"))
            .distinct()
            .collect()
        )

    def write_version(self, df: DataFrame, batch_id: int) -> list[int]:
        """Write ``df`` as version ``batch_id`` of every bucket it
        touches: ONE Spark job (dynamic-partition parquet write to a
        staging dir), then one Hadoop-FS rename per written bucket.
        Buckets without rows in ``df`` are untouched — their current
        data stays at their older versions. Idempotent under replay:
        an existing ``v{batch_id}`` bucket dir is replaced."""
        if "bucket" in df.columns:
            # the partition column is stripped by the partitioned
            # parquet layout — a pre-existing data column named
            # `bucket` would be silently overwritten and lost on read
            raise ValueError(
                "BucketedVersionTable reserves the column name 'bucket'; "
                "rename the data column before write_version"
            )
        stage = posixpath.join(self.base, f"_stage-v{batch_id}")
        (
            df.withColumn("bucket", self._bucket_expr())
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(stage)
        )
        fs, stage_p, jvm = _hadoop_fs(self.spark, stage)
        written = []
        for st in fs.listStatus(stage_p):
            name = st.getPath().getName()
            if not name.startswith("bucket="):
                continue
            b = int(name.split("=", 1)[1])
            parent = jvm.org.apache.hadoop.fs.Path(self._bucket_path(b))
            fs.mkdirs(parent)
            dst = jvm.org.apache.hadoop.fs.Path(
                self._bucket_path(b, batch_id)
            )
            if fs.exists(dst):
                fs.delete(dst, True)
            if not fs.rename(st.getPath(), dst):
                raise IOError(
                    f"rename {st.getPath()} -> {dst} failed "
                    "(Hadoop FileSystem returned false)"
                )
            written.append(b)
        fs.delete(stage_p, True)
        return sorted(written)

    # --- retention ---

    def prune(self, retain: int) -> int:
        """Keep the newest ``retain + 1`` versions of each bucket,
        delete the rest; returns the number of deleted version dirs.
        ``retain + 1`` mirrors the flat layout's "delete below
        batch_id - retain" window (current + retain predecessors) but
        per bucket, so a cold bucket's only copy is never deleted."""
        fs, _, jvm = _hadoop_fs(self.spark, self.base)
        n = 0
        for b, vs in self.bucket_versions().items():
            for v in vs[: -(retain + 1)] if len(vs) > retain + 1 else []:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(self._bucket_path(b, v)),
                    True,
                )
                n += 1
        return n
