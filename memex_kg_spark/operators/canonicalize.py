"""Canonicalization + graph materialization operators.

Replaces the reference's insert-time dedup (unique-wid constraint with
swallowed ConstraintError = first-writer-wins, db/db_connection.py:51-56,
143-146) and edge creation (link_father_son: endpoint match + one edge per
claim, db/db_connection.py:150-203) with set-oriented Spark plans:

- ``salted_counts``: explicit two-phase aggregation for Zipf-hot keys —
  partial agg on (key, salt) then final agg on key. With plain groupBy a
  single hot surface form ("eiffel tower" at 100x median) lands one
  reducer with 100x the work; salting bounds any reducer at ~1/S of the
  hot key. (Spark's hash-agg already does map-side partials for counts;
  the salted form is the general pattern for aggs without partials, and
  pipeline metrics use it so the path is exercised and tested.)
- ``build_nodes`` / ``build_edges``: distinct + broadcast dimension join +
  endpoint semi-join gating, one dedup shuffle each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_counts(df: DataFrame, key: str, n_salts: int = 16,
                  out: str = "n") -> DataFrame:
    """Two-phase skew-safe count per key: groupBy(key, salt) -> groupBy(key).
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(F.monotonically_increasing_id()),
                        F.lit(n_salts)))
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").cast("long").alias(out))


def entity_dim(alias_dim: DataFrame) -> DataFrame:
    """One row per qid with its canonical attributes (the dimension is
    alias-grained; entity attributes repeat per alias, so the first row
    per qid is exact, not arbitrary) and its ``canonical_id`` (the min
    qid of its shares-an-alias component). One derivative of the alias
    dimension's session memo (``memo.alias_part``), taken from the
    driver's Arrow copy of the dimension."""
    from .memo import alias_part

    return alias_part(alias_dim, "entity")


def build_nodes(triples: DataFrame, alias_dim: DataFrame) -> DataFrame:
    """Nodes = every qid appearing as a subject or entity-typed object,
    joined to the one broadcast entity dimension, which carries the
    canonical_id from the alias graph's connected components
    (``components.canonical_components``: a pyarrow contraction plus
    union-find on the driver), and the dynamic property map (SURVEY
    §1.3: the reference spills every harvested property/value pair onto
    the node, db/db_connection.py:102-148; here ``props
    map<string,string>`` built from the aligned prop_keys/prop_vals
    arrays).

    The triple side reduces to a distinct id set BEFORE any join — the
    only shuffle is on the (small) distinct ids, never on raw triples.
    node_type follows the reference rule 'has coordinates -> Place else
    Knowledge' (db/db_connection.py:114), already encoded in the dim."""
    ids = (triples.select(F.col("subj").alias("qid"))
           .union(triples.filter(F.col("obj_type") == "entity")
                  .select(F.col("obj").alias("qid")))
           .distinct())
    return (ids.join(F.broadcast(entity_dim(alias_dim)), "qid")
            .select("qid", "label", "node_type", "lat", "lon",
                    "canonical_id",
                    F.map_from_arrays("prop_keys", "prop_vals")
                    .alias("props")))


def build_edges(triples: DataFrame, nodes: DataFrame,
                pred_dim: DataFrame) -> DataFrame:
    """Entity edges with endpoint-existence gating (reference J5) and the
    multilingual label map the reference attaches to every edge
    (``{en,fr,pt,es}``, db/db_connection.py:189-200), from a broadcast
    left join against the predicate dimension (no locale row: English
    fallback, per reference recursive_hops_ingestion.py:50-51). One
    ``distinct`` then keeps each (src,pred,dst) (reference one-edge-per-claim,
    U3) once per distinct locale row of its pred."""
    e = (triples.filter(F.col("obj_type") == "entity")
         .select(F.col("subj").alias("src"), "pred",
                 F.col("obj").alias("dst")))
    node_ids = nodes.select(F.col("qid"))
    e = (e.join(F.broadcast(node_ids.withColumnRenamed("qid", "src")),
                "src", "left_semi")
          .join(F.broadcast(node_ids.withColumnRenamed("qid", "dst")),
                "dst", "left_semi")
          .join(F.broadcast(pred_dim.select("pred", "pred_fr", "pred_pt",
                                            "pred_es")), "pred", "left")
          .distinct())
    labels = F.create_map(
        F.lit("en"), F.col("pred"),
        F.lit("fr"), F.coalesce("pred_fr", F.col("pred")),
        F.lit("pt"), F.coalesce("pred_pt", F.col("pred")),
        F.lit("es"), F.coalesce("pred_es", F.col("pred")))
    return e.select("src", "pred", "dst", labels.alias("labels"))
