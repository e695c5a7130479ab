"""Graph-algorithm + spatial queries with oracle twins.

PPR's oracle is the SAME 10-step power iteration UNROLLED into plain SQL
CTEs (pr0..pr10) — exact semantic parity, no recursion tricks. The
spatial grid join's oracle is the brute-force cross join, which proves
the bucketing loses no pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.pagerank import ppr_subgraph, ppr_topk, unrolled_ppr_sql
from ..operators.spatial import neighbors_within
from .kg import _cte
from .relational import _GEO_SQL, _customer_geo

PPR_SEED = "Q100"  # the Zipf-hottest entity


def _kg_edges(spark, sf_dir):
    from .kg import kg_artifacts
    return kg_artifacts(spark, sf_dir)["edges"]


def _ppr_cte(p: str) -> str:
    edges_cte = ("WITH RECURSIVE " + _cte(p)
                 + ", pedges AS MATERIALIZED (SELECT DISTINCT src AS u, dst AS v "
                   "FROM edges)")
    return unrolled_ppr_sql(edges_cte, PPR_SEED, iterations=10,
                            damping=0.85)


def q_ppr_topk(spark, sf_dir):
    """T5/G3: seeded PageRank, 10 iterations, damping 0.85 (reference
    db/db_search.py:291-316), top-10 by rank."""
    edges = _kg_edges(spark, sf_dir)
    return ppr_topk(edges, PPR_SEED, k=10)


def sql_ppr_topk(p: str) -> str:
    return (_ppr_cte(p)
            + "\nSELECT id, rank FROM ppr ORDER BY rank DESC, id ASC "
              "LIMIT 10")


def q_ppr_subgraph(spark, sf_dir):
    """J9 + J10 in one row (merged r3): the 1-hop neighborhood of the PPR
    top-10 (reference get_ppr_subgraph, db/db_search.py:319-340), each
    edge annotated with the destination node's label via the J10
    neighbor-lookup join (reference get_node_neighbors,
    db/db_search.py:372-396)."""
    from .kg import kg_artifacts
    a = kg_artifacts(spark, sf_dir)
    nodes, edges = a["nodes"], a["edges"]
    nbr = nodes.select(F.col("qid").alias("dst"),
                       F.col("label").alias("dst_label"))
    return (ppr_subgraph(edges, PPR_SEED, k=10)
            .join(F.broadcast(nbr), "dst", "left")
            .select("src", "pred", "dst", "dst_label")
            .orderBy("src", "pred", "dst"))


def sql_ppr_subgraph(p: str) -> str:
    return (_ppr_cte(p) + """
, top10 AS (SELECT id FROM ppr ORDER BY rank DESC, id ASC LIMIT 10),
sub AS (SELECT DISTINCT src, pred, dst FROM edges
        WHERE src IN (SELECT id FROM top10)
           OR dst IN (SELECT id FROM top10))
SELECT s.src, s.pred, s.dst, n.label AS dst_label
FROM sub s LEFT JOIN nodes n ON s.dst = n.qid
ORDER BY s.src, s.pred, s.dst""")


def q_spatial_neighbors(spark, sf_dir):
    """J3: all customer pairs within 120 km, via the grid-bucketed range
    join (reference link_neighboring_places was an O(n^2) Cypher scan)."""
    geo = _customer_geo(spark, sf_dir).withColumnRenamed("c_custkey", "id")
    return neighbors_within(geo, 120.0).orderBy("a_id", "b_id")


SQL_SPATIAL_NEIGHBORS = """
WITH """ + _GEO_SQL + """
SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
       round(2 * 6371.0088 * asin(sqrt(
           sin(radians(b.lat - a.lat) / 2) ^ 2 +
           cos(radians(a.lat)) * cos(radians(b.lat)) *
           sin(radians(b.lon - a.lon) / 2) ^ 2)), 4) AS dist_km
FROM geo a, geo b
WHERE a.c_custkey < b.c_custkey
  AND round(2 * 6371.0088 * asin(sqrt(
           sin(radians(b.lat - a.lat) / 2) ^ 2 +
           cos(radians(a.lat)) * cos(radians(b.lat)) *
           sin(radians(b.lon - a.lon) / 2) ^ 2)), 4) < 120
ORDER BY a_id, b_id
"""


def graph_queries() -> dict:
    return {
        "ppr_topk": q_ppr_topk,
        "ppr_subgraph": q_ppr_subgraph,
        "spatial_neighbors": q_spatial_neighbors,
    }


def graph_oracle_sql() -> dict:
    from ..synth.generator import synth_dir
    p = synth_dir(0.01)
    return {
        "ppr_topk": sql_ppr_topk(p),
        "ppr_subgraph": sql_ppr_subgraph(p),
        "spatial_neighbors": SQL_SPATIAL_NEIGHBORS,
    }
