"""Stage checkpointing + resume (SURVEY.md §4 "idempotent stage skip"; the north
rule's "every stage checkpoints ... so a killed run resumes from the last
committed snapshot").

Two implementations behind one seam:

- ``LocalCheckpointer`` — ``df.localCheckpoint(eager)``: materializes stage
  output on the block manager and TRUNCATES THE LOGICAL PLAN. Used by tests and
  bench. The plan cut is load-bearing for performance even single-run: without
  it, Catalyst re-analyzes an exponentially growing tree at every downstream
  action (each self-join doubles the subtree; measured 170s -> 15s at sf0.01).

- ``ParquetCheckpointer`` — the durable stand-in for Iceberg snapshot commits
  (this sandbox ships no Iceberg runtime). Each stage writes parquet + a
  ``_COMMIT.json`` marker carrying row counters and per-partition lineage
  (rows per shuffle partition); a rerun with the same root SKIPS
  recomputation of committed stages and reads them back — the
  resume-equals-fresh-run property is asserted in tests/test_checkpoint.py.

On a real lakehouse the mapping is mechanical, and the plan shapes do not
change: (a) the ``_COMMIT.json`` marker IS an Iceberg snapshot commit —
atomic visibility + counters live in snapshot summary metadata, and
``committed()`` becomes "does table state include stage snapshot X"; (b)
the overwrite-directory upsert paths (entities/edges/triples re-writes in
streaming/incremental.py, the J6/J7 node/edge upserts) become
``MERGE INTO entities t USING updates s ON t.entity_name = s.entity_name
WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN INSERT ...`` — the merge
aggregation logic (operators/merge.py) is unchanged, only the final write
gains row-level upsert instead of partition overwrite; (c) time-travel
resume (``latest committed snapshot``, W9) becomes Iceberg's own snapshot
log. What this sandbox therefore does NOT demonstrate: Iceberg's commit
conflict resolution and row-level delete files — everything else
(resume-from-kill, lineage counters, snapshot selection) is tested here.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class LocalCheckpointer:
    """In-memory stage materialization with plan truncation."""

    # stage() runs an action before returning — consumers may safely read
    # an Observation attached to the staged plan (see pipeline.build_aliases)
    eager_stages = True

    def stage(self, name: str, df: DataFrame) -> DataFrame:
        return df.localCheckpoint()

    # tiny stages need only the plan cut, never durability
    stage_light = stage


class _HadoopFS:
    """Tiny marker-file IO shim over the Hadoop FileSystem API.

    Commit markers MUST live in the same store as the parquet data: with plain
    ``os.path`` IO an object-store root (``--checkpoint s3a://bucket/kg_ckpt``)
    would put the data on S3 via Hadoop but the markers on the driver's local
    disk, so a resubmitted run on a fresh driver never resumes and a
    same-machine rerun can skip stages whose S3 data was never written. The
    Hadoop FS resolves the scheme (file://, hdfs://, s3a://) from the root URI,
    making ``committed()`` consistent with where ``df.write.parquet`` wrote.
    """

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._IOUtils = jvm.org.apache.commons.io.IOUtils
        self._fs = self._Path(root).getFileSystem(spark._jsc.hadoopConfiguration())

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._Path(path))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        try:
            return self._IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_atomic(self, path: str, data: bytes) -> None:
        """Write to a hidden ``_tmp-<name>`` sibling, then rename it over
        <path>: the file is visible only after a complete write, and Spark's
        reader skips ``_``-prefixed names, so a crash mid-write leaves
        nothing readable in a table directory."""
        head, name = os.path.split(path)
        tmp = self._Path(os.path.join(head, "_tmp-" + name))
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        dst = self._Path(path)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        self._fs.rename(tmp, dst)

    def listdir(self, path: str) -> list[str]:
        if not self.exists(path):
            return []
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(self._Path(path))
            if st.isDirectory()
        )

    def delete(self, path: str) -> None:
        if self.exists(path):
            self._fs.delete(self._Path(path), True)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence probe (file://, hdfs://, s3a://, ...).

    ``os.path.isdir`` is always False for object-store URIs, which silently
    disables any feature gated on it (a persisted ann_index, a media table)
    the moment the output root moves off the driver's disk — probe through
    the Hadoop FileSystem the data was written with instead."""
    return _HadoopFS(spark, path).exists(path)


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` (no-op when absent) via the Hadoop FS —
    the cleanup twin of :func:`fs_exists` for retiring stale artifacts
    (e.g. a previous run's ann_index after a re-index without the flag)."""
    _HadoopFS(spark, path).delete(path)


class ParquetCheckpointer:
    """Durable per-stage snapshots with commit markers and lineage counters."""

    eager_stages = True  # stage() writes (an action) before returning

    def __init__(self, spark: SparkSession, root: str, codec: str | None = None):
        """``codec`` overrides the parquet compression for snapshot writes
        (None = session default, snappy). Measured here (BENCH.md round-4
        interleaved A/B): zstd costs ~1.8x WALL vs snappy — its write CPU
        swamps the ~2-3x byte savings on this host (CLAUDE.md rule 9). The
        knob exists only for genuinely disk-bound clusters where bytes, not
        CPU, are the bottleneck."""
        self.spark = spark
        self.root = root
        self.codec = codec
        self._fs = _HadoopFS(spark, root)
        self._fs.mkdirs(root)

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _marker(self, name: str) -> str:
        return os.path.join(self._dir(name), "_COMMIT.json")

    def committed(self, name: str) -> bool:
        return self._fs.exists(self._marker(name))

    def load(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._dir(name), "data"))

    def stage(self, name: str, df: DataFrame) -> DataFrame:
        """Commit ``df`` as stage ``name`` unless already committed; return the
        (re)loaded snapshot. The marker is written only after the parquet write
        fully succeeds — a killed run leaves no marker, so the stage reruns."""
        if self.committed(name):
            return self.load(name)
        path = os.path.join(self._dir(name), "data")
        t0 = time.monotonic()
        # A4 run counters, Spark-idiomatic: an Observation piggybacks on the
        # write action (no extra job) and lands in the commit marker — the
        # engine's analogue of the reference's already_processed progress
        # counters (text2graph.py nonlocal counters).
        from pyspark.sql import Observation

        obs = Observation(f"stage_{name}")
        writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        )
        if self.codec:
            writer = writer.option("compression", self.codec)
        writer.parquet(path)
        observed = obs.get
        out = self.spark.read.parquet(path)
        # per-partition lineage: rows per file of the committed snapshot,
        # read straight from the parquet FOOTERS — zero Spark jobs, zero data
        # scan (the old groupBy(spark_partition_id) re-scanned every snapshot,
        # which at 2M docs re-read millions of rows per stage purely for the
        # marker). Non-local roots fall back to the scan.
        part_rows = self._footer_partition_rows(path)
        if part_rows is None:
            part_rows = [
                (r["p"], r["n"])
                for r in out.groupBy(F.spark_partition_id().alias("p"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ]
        marker = {
            "stage": name,
            "rows": sum(n for _, n in part_rows),
            "observed_rows": observed.get("rows"),
            "partitions": sorted(part_rows),
            "wall_seconds": round(time.monotonic() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._fs.write_atomic(self._marker(name), json.dumps(marker).encode())
        return out

    def stage_light(self, name: str, df: DataFrame) -> DataFrame:
        """Plan-cut-only commit for TINY stage outputs (alias pairs, alias
        maps — a few rows): a parquet write+read-back+marker costs ~1 s of
        pure fixed overhead per stage, which tiny outputs never repay. The
        data stays on the block manager; crash-resume recomputes these rows
        from the last durable stage (cheap by construction)."""
        return df.localCheckpoint()

    def _footer_partition_rows(self, path: str):
        """[(file_index, num_rows)] from parquet footers, or None when the
        root is not a local filesystem path (pyarrow would need a remote FS
        adapter there; callers fall back to a Spark scan)."""
        if "://" in self.root and not self.root.startswith("file:"):
            return None
        import glob as _glob

        import pyarrow.parquet as pq

        local = path[len("file:"):] if path.startswith("file:") else path
        files = sorted(_glob.glob(os.path.join(local, "*.parquet")))
        if not files:
            return None
        return [(i, pq.ParquetFile(f).metadata.num_rows) for i, f in enumerate(files)]

    def manifest(self) -> list[dict]:
        out = []
        for name in self._fs.listdir(self.root):
            m = self._marker(name)
            if self._fs.exists(m):
                out.append(json.loads(self._fs.read_text(m)))
        return out
