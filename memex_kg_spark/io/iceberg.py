"""Iceberg-catalog backend for :class:`ResumableKGWriter` (deployment seam).

The sandbox carries no Iceberg runtime jar, so the default storage backend
remains the parquet ``bucket=K/`` directory shim (SURVEY §7 risk (d)). On a
real cluster with a configured Iceberg catalog::

    spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type = ...

construct ``ResumableKGWriter(..., catalog="lake", namespace="kg")`` and the
SAME writer API routes every table operation through the transactional
DataFrameWriterV2 / SQL surface instead of filesystem directories:

- **triples**: ``writeTo(lake.kg.triples).overwritePartitions()`` — dynamic
  per-bucket partition overwrite; identical replace-a-crashed-attempt
  semantics to the ``bucket=K/`` directory overwrite, but with a snapshot
  commit instead of a directory rename.
- **lineage**: ``writeTo(lake.kg.lineage).append()`` — the commit point,
  exactly as in the shim.
- **nodes/edges first build**: ``writeTo(...).createOrReplace()``.
- **nodes/edges incremental**: ``MERGE INTO ... WHEN NOT MATCHED THEN
  INSERT`` — the transactional equivalent of the shim's anti-join + append
  (a replayed MERGE is absorbed the same way a replayed anti-join is).
- **finalize state**: a ``finalized_buckets`` table replaces the driver-local
  ``_FINALIZED.json`` (on a cluster the driver's local disk does not survive
  a restart; the catalog does).

Reference parity: the reference made re-ingestion idempotent through Neo4j
``MERGE`` + unique constraints (/root/reference/db/db_connection.py:written
per-query) and resumed by checking the filesystem for already-fetched files
(/root/reference/ingestion/mapillary_ingestion_places.py:104-143). MERGE
INTO on an Iceberg catalog is the warehouse-native restatement of both.

Everything here builds plans/SQL only through public Spark APIs; unit tests
drive it with a recording fake session (no jar needed) and assert the DDL,
MERGE text, and routing are exactly what a real catalog would receive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TRIPLES_COLS = ("conv_id string, turn_idx int, subj string, pred string, "
                "obj string, obj_type string, bucket int")
LINEAGE_COLS = ("run_id string, bucket int, rows_in bigint, "
                "n_triples bigint, wall_ms bigint, status string, "
                "finished_at string")


class IcebergTableIO:
    """Thin, testable wrapper over the DataFrameWriterV2/SQL calls the
    writer needs. One instance per (catalog, namespace)."""

    def __init__(self, spark: SparkSession, catalog: str,
                 namespace: str = "kg"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    def tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    # -- layout ---------------------------------------------------------

    def ensure_tables(self, n_buckets: int) -> None:
        """Create the warehouse tables if absent and pin the bucket count
        in a table property — the transactional twin of the shim's
        ``_KG_META.json`` guard (resuming with a different bucket count
        would re-bucket conversations and double-process them)."""
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.tbl('triples')} "
            f"({TRIPLES_COLS}) USING iceberg PARTITIONED BY (bucket) "
            f"TBLPROPERTIES ('memex_kg.n_buckets'='{n_buckets}')")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.tbl('lineage')} "
            f"({LINEAGE_COLS}) USING iceberg")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.tbl('finalized_buckets')} "
            f"(bucket int) USING iceberg")
        pinned = self._pinned_n_buckets()
        if pinned is not None and pinned != n_buckets:
            raise ValueError(
                f"{self.tbl('triples')} was created with n_buckets={pinned};"
                f" refusing to resume with n_buckets={n_buckets}")

    def _pinned_n_buckets(self) -> int | None:
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self.tbl('triples')} "
            f"('memex_kg.n_buckets')").collect()
        for r in rows:
            try:
                return int(r["value"])
            except (KeyError, TypeError, ValueError):
                continue
        return None

    # -- data tables ----------------------------------------------------

    def overwrite_triples_bucket(self, df: DataFrame) -> None:
        """``df`` must carry the ``bucket`` column; dynamic partition
        overwrite replaces exactly that bucket's rows in one snapshot."""
        df.writeTo(self.tbl("triples")).overwritePartitions()

    def read_triples(self) -> DataFrame:
        return self.spark.read.table(self.tbl("triples"))

    def append_lineage(self, df: DataFrame) -> None:
        df.writeTo(self.tbl("lineage")).append()

    def read_lineage(self) -> DataFrame:
        return self.spark.read.table(self.tbl("lineage"))

    # -- graph tables ---------------------------------------------------

    def replace_graph(self, nodes: DataFrame, edges: DataFrame) -> None:
        nodes.writeTo(self.tbl("nodes")).using("iceberg").createOrReplace()
        edges.writeTo(self.tbl("edges")).using("iceberg").createOrReplace()

    def merge_nodes(self, cand_nodes: DataFrame) -> None:
        """Insert-if-absent by entity id. Node attributes derive from
        static dimensions (finalize_graph's convergence argument), so a
        matched row needs no update clause."""
        cand_nodes.createOrReplaceTempView("_kg_cand_nodes")
        self.spark.sql(
            f"MERGE INTO {self.tbl('nodes')} t "
            f"USING _kg_cand_nodes s ON t.qid = s.qid "
            f"WHEN NOT MATCHED THEN INSERT *")

    def merge_edges(self, cand_edges: DataFrame) -> None:
        cand_edges.createOrReplaceTempView("_kg_cand_edges")
        self.spark.sql(
            f"MERGE INTO {self.tbl('edges')} t "
            f"USING _kg_cand_edges s "
            f"ON t.src = s.src AND t.pred = s.pred AND t.dst = s.dst "
            f"WHEN NOT MATCHED THEN INSERT *")

    def read_nodes(self) -> DataFrame:
        return self.spark.read.table(self.tbl("nodes"))

    def read_edges(self) -> DataFrame:
        return self.spark.read.table(self.tbl("edges"))

    # -- finalize state -------------------------------------------------

    def finalized_buckets(self) -> list[int]:
        rows = self.spark.read.table(
            self.tbl("finalized_buckets")).collect()
        return sorted({int(r["bucket"]) for r in rows})

    def record_finalized(self, buckets: list[int]) -> None:
        if not buckets:
            return
        df = self.spark.createDataFrame(
            [(int(b),) for b in buckets], "bucket int")
        df.writeTo(self.tbl("finalized_buckets")).append()
