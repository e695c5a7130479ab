"""memex_kg_spark — a from-scratch, PySpark-native knowledge-graph
construction engine with the capabilities of MEMEXProject/MEMEX-KG.

The reference (/root/reference) harvests Wikidata/Europeana entities one
HTTP request + one Cypher CREATE at a time into Neo4j. This engine
re-expresses the same capabilities — triple extraction, entity linking,
canonicalization, graph materialization, graph/vector/text search — as
declarative Spark DataFrame plans over partitioned parquet tables, designed
for 1000-executor / 100 TB scale:

- extraction is a vectorized ``mapInPandas`` stage over Arrow batches
  (replaces the per-record fetch loop, reference
  ingestion/recursive_hops_ingestion.py:135-164);
- entity linking is a broadcast hash join against an alias dimension
  (replaces per-tag Cypher lookups, reference db/db_connection.py:205-219);
- canonical dedup is a salted two-phase groupBy + connected components
  over the shares-an-alias graph: a pyarrow contraction plus union-find
  on the driver for ``canonical_id``, and the distributed
  large-star/small-star loop (replaces Neo4j unique-constraint MERGE,
  reference db/db_connection.py:51-56,143-146);
- nodes/edges are materialized as hash-bucketed parquet tables with
  per-partition lineage rows enabling anti-join resume (replaces the
  file-cache resume of reference ingestion/mapillary_ingestion_places.py).
"""

__version__ = "0.1.0"
