"""End-to-end KG-construction pipeline (the flagship plan), in two halves.

build_triples: transcripts --window sort--> statements (mapInPandas)
    --broadcast alias winners--> statement + claim triples --per-turn
    dedup--> triples. The resumable writer runs it per bucket, streaming
    per micro-batch.
build_graph: triples --distinct ids + dims + driver CC map--> nodes
    --endpoint gating + dedup--> edges. The writer runs it at finalize.
``build_kg`` composes the two and adds the mention and linking layers.

Shuffles each layer adds over its kept inputs (pinned by
``tests/test_plans.py::test_shuffles_per_layer``): statements 0 (narrow
extraction), mentions 1 (mention_id window), linked mentions 0
(broadcast-only linking), triples 2 (claim-side distinct, per-turn
dedup), nodes 1 (distinct ids), edges 2 (edge dedup, locale distinct).
Every fact-sized key is a high-cardinality composite, so AQE + salting
keep reducers balanced even with Zipf-hot entities.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.canonicalize import build_edges, build_nodes
from .operators.extraction import extract_statements, statements_to_mentions
from .operators.linking import alias_winners, link_mentions

QID_PATTERN = "^Q[0-9]+$"  # reference Q-id predicate, recursive_hops:187,192
CORPUS_TABLES = ("transcripts", "alias_dim", "pred_dim")


def load_synth(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
            for t in CORPUS_TABLES}


def stable_turns(transcripts: DataFrame) -> DataFrame:
    """Restore the mandated stable (conv_id, turn_idx) order: the raw files
    arrive with rows shuffled inside each conversation; the per-row
    invariant 'per-turn text equality under stable turn ordering' is
    checked against this view (row_number is purely a function of the sort
    key, so it is identical at any parallelism)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.withColumn("turn_seq", F.row_number().over(w))


def statement_triples(statements: DataFrame, alias_dim: DataFrame,
                      pred_dim: DataFrame) -> DataFrame:
    """(subj, pred, obj) per statement where BOTH slots link (reference P3:
    null-valued claims are dropped). Three broadcast joins, zero shuffles.
    """
    winners = alias_winners(alias_dim)
    subj_w = F.broadcast(winners.select(
        F.col("norm_alias").alias("subj_norm"), F.col("qid").alias("subj")))
    obj_w = F.broadcast(winners.select(
        F.col("norm_alias").alias("obj_norm"), F.col("qid").alias("obj")))
    preds = F.broadcast(pred_dim.select("phrase", "pred"))
    return (statements
            .withColumn("subj_norm", F.lower("subj_surface"))
            .withColumn("obj_norm", F.lower("obj_surface"))
            .join(subj_w, "subj_norm", "inner")
            .join(obj_w, "obj_norm", "inner")
            .join(preds, "phrase", "inner")
            .select("conv_id", "turn_idx", "subj", "pred", "obj",
                    F.lit("entity").alias("obj_type")))


def claim_triples(statements: DataFrame, alias_dim: DataFrame) -> DataFrame:
    """Claim-expansion triples: every entity linked anywhere in a turn
    contributes its dimension claims (the reference emitted one edge per
    Wikidata claim when visiting an entity, loop_on_properties +
    link_father_son). Entity/literal typing via the Q-id regex."""
    winners = alias_winners(alias_dim)
    linked = (statements
              .select("conv_id", "turn_idx",
                      F.explode(F.array(F.lower("subj_surface"),
                                        F.lower("obj_surface")))
                      .alias("norm"))
              .join(F.broadcast(winners.select(
                  F.col("norm_alias").alias("norm"), "qid")), "norm")
              .select("conv_id", "turn_idx", "qid")
              .distinct())

    from .operators.memo import alias_part
    # the claim dimension (qid, pred, obj): a memoized derivative of the
    # alias dimension, exploded from each qid's aligned prop arrays
    props = alias_part(alias_dim, "props")
    return (linked.join(F.broadcast(props), "qid")
            .select("conv_id", "turn_idx", F.col("qid").alias("subj"),
                    "pred", "obj",
                    F.when(F.col("obj").rlike(QID_PATTERN), "entity")
                    .otherwise("literal").alias("obj_type")))


def triples_from_statements(statements: DataFrame, alias_dim: DataFrame,
                            pred_dim: DataFrame) -> DataFrame:
    """Triple set from an already-extracted (and possibly kept) statements
    DF, so mentions and triples share one extraction scan."""
    t = (statement_triples(statements, alias_dim, pred_dim)
         .unionByName(claim_triples(statements, alias_dim)))
    return t.dropDuplicates(
        ["conv_id", "turn_idx", "subj", "pred", "obj", "obj_type"])


Keep = Callable[[DataFrame], DataFrame]


def build_triples(transcripts: DataFrame, alias_dim: DataFrame,
                  pred_dim: DataFrame, keep: Keep = lambda df: df,
                  ) -> tuple[DataFrame, DataFrame]:
    """``(statements, triples)``; ``statements`` passes through ``keep``.
    Triples are deduped within each turn (the oracle's per-turn set
    semantics; conv_id+turn_idx keep the dedup key high-cardinality)."""
    statements = keep(extract_statements(transcripts))
    return statements, triples_from_statements(statements, alias_dim,
                                               pred_dim)


def build_graph(triples: DataFrame, alias_dim: DataFrame,
                pred_dim: DataFrame, keep: Keep = lambda df: df,
                ) -> tuple[DataFrame, DataFrame]:
    """``(nodes, edges)`` from a triple set; ``nodes`` passes through
    ``keep`` (edges gate their endpoints against it)."""
    nodes = keep(build_nodes(triples, alias_dim))
    return nodes, build_edges(triples, nodes, pred_dim)


def build_kg(spark: SparkSession, sf_dir: str, keep: Keep = lambda df: df,
             ) -> dict[str, DataFrame]:
    """The flagship over the corpus in ``sf_dir``. ``keep`` (identity,
    persist or localCheckpoint) is applied at the four fan-outs in this
    order, which ``test_shuffles_per_layer`` zips against: statements,
    mentions, triples, nodes. Pass a lambda (``lambda df: df.persist()``),
    not ``DataFrame.persist``: PySpark 4's base-class methods are stubs
    returning None."""
    d = load_synth(spark, sf_dir)
    alias, pred = d["alias_dim"], d["pred_dim"]
    statements, triples = build_triples(d["transcripts"], alias, pred, keep)
    mentions = keep(statements_to_mentions(statements, alias))
    triples = keep(triples)
    nodes, edges = build_graph(triples, alias, pred, keep)
    return {**d, "statements": statements, "mentions": mentions,
            "linked_mentions": link_mentions(mentions, alias),
            "triples": triples, "nodes": nodes, "edges": edges}
