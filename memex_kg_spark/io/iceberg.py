"""Iceberg-catalog backend for :class:`ResumableKGWriter` (deployment seam).

The sandbox carries no Iceberg runtime jar, so the default backend is its
twin :class:`~.parquet.ParquetTableIO` (SURVEY §7 risk (d)), which has the
same public methods and parameters. On a real cluster with a configured
Iceberg catalog::

    spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type = ...

construct ``ResumableKGWriter(..., catalog="lake", namespace="kg")`` and
every table call goes through the transactional DataFrameWriterV2 / SQL
surface instead of filesystem directories:

- **triples**: ``writeTo(lake.kg.triples).overwritePartitions()`` — dynamic
  per-bucket partition overwrite; identical replace-a-crashed-attempt
  semantics to the ``bucket=K/`` directory overwrite, but with a snapshot
  commit instead of a directory rename.
- **lineage**: ``writeTo(lake.kg.lineage).append()`` — the commit point,
  exactly as with parquet. The table is created up front, so an empty one
  means "no commits"; catalog appends need no file compaction.
- **nodes/edges first build**: ``writeTo(...).createOrReplace()``.
- **nodes/edges incremental**: ``MERGE INTO ... WHEN NOT MATCHED THEN
  INSERT`` — the transactional equivalent of the parquet anti-join +
  append (a replayed MERGE is absorbed like a replayed anti-join).
- **layout pin and finalize state**: a ``memex_kg.n_buckets`` table
  property replaces ``_KG_META.json``, and a ``finalized_buckets`` table
  replaces the driver-local ``_FINALIZED.json`` (on a cluster the
  driver's local disk does not survive a restart; the catalog does).

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

    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    # -- layout ---------------------------------------------------------

    def ensure_tables(self, n_buckets: int) -> None:
        """Create the warehouse tables if absent and pin the bucket count
        in a table property — the transactional twin of the parquet
        backend's ``_KG_META.json`` guard (resuming with a different
        bucket count would re-bucket conversations and double-process
        them)."""
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._tbl('triples')} "
            f"({TRIPLES_COLS}) USING iceberg PARTITIONED BY (bucket) "
            f"TBLPROPERTIES ('memex_kg.n_buckets'='{n_buckets}')")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._tbl('lineage')} "
            f"({LINEAGE_COLS}) USING iceberg")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS "
            f"{self._tbl('finalized_buckets')} (bucket int) USING iceberg")
        pinned = self._pinned_n_buckets()
        if pinned is not None and pinned != n_buckets:
            raise ValueError(
                f"{self._tbl('triples')} was created with "
                f"n_buckets={pinned}; refusing to resume with "
                f"n_buckets={n_buckets}")

    def _pinned_n_buckets(self) -> int | None:
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self._tbl('triples')} "
            f"('memex_kg.n_buckets')").collect()
        for r in rows:
            try:
                return int(r["value"])
            except (KeyError, TypeError, ValueError):
                continue
        return None

    # -- data tables ----------------------------------------------------

    def overwrite_triples_bucket(self, bucket: int, df: DataFrame) -> None:
        """Dynamic partition overwrite replaces exactly that bucket's
        rows in one snapshot."""
        (df.selectExpr("*", f"{int(bucket)} AS bucket")
         .writeTo(self._tbl("triples")).overwritePartitions())

    def read_triples(self) -> DataFrame:
        return self.spark.read.table(self._tbl("triples"))

    def append_lineage(self, df: DataFrame) -> None:
        df.writeTo(self._tbl("lineage")).append()

    def read_lineage(self) -> DataFrame:
        return self.spark.read.table(self._tbl("lineage"))

    def compact_lineage(self, min_files: int) -> int:
        """Catalog appends need no file-level merge: removes nothing."""
        return 0

    # -- graph tables ---------------------------------------------------

    def replace_graph(self, nodes: DataFrame, edges: DataFrame) -> None:
        nodes.writeTo(self._tbl("nodes")).using("iceberg").createOrReplace()
        edges.writeTo(self._tbl("edges")).using("iceberg").createOrReplace()

    def merge_nodes(self, cand_nodes: DataFrame) -> None:
        """Insert-if-absent by entity id. Node attributes derive from
        static dimensions (finalize_graph's convergence argument), so a
        matched row needs no update clause."""
        cand_nodes.createOrReplaceTempView("_kg_cand_nodes")
        self.spark.sql(
            f"MERGE INTO {self._tbl('nodes')} t "
            f"USING _kg_cand_nodes s ON t.qid = s.qid "
            f"WHEN NOT MATCHED THEN INSERT *")

    def merge_edges(self, cand_edges: DataFrame) -> None:
        cand_edges.createOrReplaceTempView("_kg_cand_edges")
        self.spark.sql(
            f"MERGE INTO {self._tbl('edges')} t "
            f"USING _kg_cand_edges s "
            f"ON t.src = s.src AND t.pred = s.pred AND t.dst = s.dst "
            f"WHEN NOT MATCHED THEN INSERT *")

    def read_nodes(self) -> DataFrame:
        return self.spark.read.table(self._tbl("nodes"))

    def read_edges(self) -> DataFrame:
        return self.spark.read.table(self._tbl("edges"))

    # -- finalize state -------------------------------------------------

    def finalized_buckets(self) -> list[int]:
        rows = self.spark.read.table(
            self._tbl("finalized_buckets")).collect()
        return sorted({int(r["bucket"]) for r in rows})

    def record_finalized(self, buckets: list[int]) -> None:
        if not buckets:
            return
        df = self.spark.createDataFrame(
            [(int(b),) for b in buckets], "bucket int")
        df.writeTo(self._tbl("finalized_buckets")).append()
