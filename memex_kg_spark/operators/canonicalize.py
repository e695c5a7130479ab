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
  endpoint semi-join gating, deduped on (src, pred, dst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import canonical_map


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
    per qid is exact, not arbitrary). One derivative of the alias
    dimension's session memo (``memo.alias_part``), taken from the
    driver's Arrow copy of the dimension."""
    from .memo import alias_part

    return alias_part(alias_dim, "entity")


def build_nodes(triples: DataFrame, alias_dim: DataFrame) -> DataFrame:
    """Nodes = every qid appearing as a subject or entity-typed object,
    joined to the entity dimension, with canonical_id from the alias
    graph's connected components (``components.canonical_map``: a
    pyarrow contraction plus union-find on the driver) and the dynamic
    property map (SURVEY §1.3: the reference spills every
    harvested property/value pair onto the node,
    db/db_connection.py:102-148; here ``props map<string,string>`` built
    from the aligned prop_keys/prop_vals arrays).

    The triple side reduces to a distinct id set BEFORE any join — the
    only shuffle is on the (small) distinct ids, never on raw triples.
    node_type follows the reference rule 'has coordinates -> Place else
    Knowledge' (db/db_connection.py:114), already encoded in the dim."""
    ids = (triples.select(F.col("subj").alias("qid"))
           .union(triples.filter(F.col("obj_type") == "entity")
                  .select(F.col("obj").alias("qid")))
           .distinct())
    dim = entity_dim(alias_dim)
    canon = canonical_map(alias_dim)
    return (ids.join(F.broadcast(dim), "qid")
            .join(F.broadcast(canon), "qid")
            .select("qid", "label", "node_type", "lat", "lon",
                    "canonical_id",
                    F.map_from_arrays("prop_keys", "prop_vals")
                    .alias("props")))


def build_edges(triples: DataFrame, nodes: DataFrame,
                pred_dim: DataFrame | None = None) -> DataFrame:
    """Entity edges with endpoint-existence gating (reference J5) and
    (src,pred,dst) dedup (reference one-edge-per-claim, U3), carrying the
    multilingual label map the reference attaches to every edge
    (``{en,fr,pt,es}``, db/db_connection.py:189-200). Locale labels come
    from a broadcast join against the predicate dimension; predicates
    without a locale row (claim-derived preds) fall back to the English
    label, per reference recursive_hops_ingestion.py:50-51."""
    e = (triples.filter(F.col("obj_type") == "entity")
         .select(F.col("subj").alias("src"), "pred",
                 F.col("obj").alias("dst")))
    node_ids = nodes.select(F.col("qid"))
    e = (e.join(F.broadcast(node_ids.withColumnRenamed("qid", "src")),
                "src", "left_semi")
          .join(F.broadcast(node_ids.withColumnRenamed("qid", "dst")),
                "dst", "left_semi")
          .select("src", "pred", "dst")
          .dropDuplicates(["src", "pred", "dst"]))
    if pred_dim is not None:
        loc = (pred_dim.select("pred", "pred_fr", "pred_pt", "pred_es")
               .distinct())
        e = e.join(F.broadcast(loc), "pred", "left")
    else:
        e = (e.withColumn("pred_fr", F.col("pred"))
             .withColumn("pred_pt", F.col("pred"))
             .withColumn("pred_es", F.col("pred")))
    labels = F.create_map(
        F.lit("en"), F.col("pred"),
        F.lit("fr"), F.coalesce("pred_fr", F.col("pred")),
        F.lit("pt"), F.coalesce("pred_pt", F.col("pred")),
        F.lit("es"), F.coalesce("pred_es", F.col("pred")))
    return e.select("src", "pred", "dst", labels.alias("labels"))
