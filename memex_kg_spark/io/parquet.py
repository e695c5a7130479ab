"""Parquet-directory backend for :class:`ResumableKGWriter` (the default).

The parquet twin of :class:`~.iceberg.IcebergTableIO`: the same public
methods with the same parameters (pinned in ``tests/test_iceberg_seam.py``).
Every table is a directory under ``root``: triples as one ``bucket=K/``
directory per bucket, lineage as one small file per commit, nodes and
edges as plain directories. The bucket-count pin and the finalize state
are ``_KG_META.json`` and ``_FINALIZED.json`` next to them.

The lineage directory is created with the tables and read with the
declared ``LINEAGE_COLS`` schema, so an empty directory, or one holding
only a crashed append's ``_temporary``, reads as zero rows: no commits.
Any other read failure raises.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession

from .iceberg import LINEAGE_COLS


class ParquetTableIO:
    """The writer's table calls over parquet directories under ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.triples_path = os.path.join(root, "triples")
        self.lineage_path = os.path.join(root, "lineage")

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # -- layout ---------------------------------------------------------

    def ensure_tables(self, n_buckets: int) -> None:
        """The bucket count IS the warehouse layout: resuming with a
        different one would re-bucket conversations into new ids and
        silently double-process them (caught live: 2946 -> 3931 triples).
        Pin it in a metadata file and refuse mismatched resumes."""
        meta_path = self._path("_KG_META.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta["n_buckets"] != n_buckets:
                raise ValueError(
                    f"warehouse {self.root} was created with "
                    f"n_buckets={meta['n_buckets']}; refusing to resume "
                    f"with n_buckets={n_buckets}")
        else:
            os.makedirs(self.root, exist_ok=True)
            with open(meta_path, "w") as f:
                json.dump({"n_buckets": n_buckets,
                           "key": "pmod(xxhash64(conv_id), n_buckets)"}, f)
        os.makedirs(self.lineage_path, exist_ok=True)

    # -- data tables ----------------------------------------------------

    def overwrite_triples_bucket(self, bucket: int, df: DataFrame) -> None:
        # partition discovery reads ``bucket`` back from the path
        (df.write.mode("overwrite")
         .parquet(os.path.join(self.triples_path, f"bucket={bucket}")))

    def read_triples(self) -> DataFrame:
        return self.spark.read.parquet(self.triples_path)

    def append_lineage(self, df: DataFrame) -> None:
        df.coalesce(1).write.mode("append").parquet(self.lineage_path)

    def read_lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_COLS).parquet(
            self.lineage_path)

    def compact_lineage(self, min_files: int) -> int:
        """Merge the one-file-per-commit lineage parquets into one file
        once there are ``min_files`` of them.

        Crash-safe without a directory swap: the compacted file is
        APPENDED to the same directory before the originals are
        deleted, and every lineage consumer is duplicate-tolerant
        (``committed_buckets`` reads a distinct set), so a crash at any
        point leaves a readable, at-worst-over-complete directory —
        never a missing or partial one. The rows are materialized with
        ``localCheckpoint`` (no driver round trip). Returns the number
        of files removed."""
        old = sorted(glob.glob(os.path.join(self.lineage_path, "part-*")))
        if len(old) < min_files:
            return 0
        self.append_lineage(self.read_lineage().localCheckpoint())
        for p in old:
            for victim in (p, os.path.join(os.path.dirname(p),
                                           "." + os.path.basename(p)
                                           + ".crc")):
                try:
                    os.remove(victim)
                except OSError:
                    pass  # already gone / no checksum twin: harmless
        return len(old)

    # -- graph tables ---------------------------------------------------

    def replace_graph(self, nodes: DataFrame, edges: DataFrame) -> None:
        nodes.write.mode("overwrite").parquet(self._path("nodes"))
        edges.write.mode("overwrite").parquet(self._path("edges"))

    def merge_nodes(self, cand_nodes: DataFrame) -> None:
        """Insert-if-absent by entity id (the anti-join twin of the
        catalog's ``MERGE INTO``)."""
        old = self.read_nodes().select("qid")
        (cand_nodes.join(old, "qid", "left_anti")
         .write.mode("append").parquet(self._path("nodes")))

    def merge_edges(self, cand_edges: DataFrame) -> None:
        key = ["src", "pred", "dst"]
        old = self.read_edges().select(*key)
        (cand_edges.join(old, key, "left_anti")
         .write.mode("append").parquet(self._path("edges")))

    def read_nodes(self) -> DataFrame:
        return self.spark.read.parquet(self._path("nodes"))

    def read_edges(self) -> DataFrame:
        return self.spark.read.parquet(self._path("edges"))

    # -- finalize state -------------------------------------------------

    def finalized_buckets(self) -> list[int]:
        try:
            with open(self._path("_FINALIZED.json")) as f:
                return json.load(f)["buckets"]
        except FileNotFoundError:
            return []

    def record_finalized(self, buckets: list[int]) -> None:
        # tmp file + rename: a crash leaves the old state or the new one
        if not buckets:
            return
        state = self._path("_FINALIZED.json")
        done = sorted(set(self.finalized_buckets()) | set(buckets))
        with open(state + ".tmp", "w") as f:
            json.dump({"buckets": done}, f)
        os.replace(state + ".tmp", state)
