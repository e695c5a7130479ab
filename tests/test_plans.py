"""Physical-plan assertions: the Spark-first design claims, checked
against what Catalyst actually plans — not just prose in docstrings.

Each test pins a property that matters at 100 TB:
- entity linking is a broadcast hash join (fact side never shuffles);
- the extraction stage is narrow (no Exchange anywhere in its plan);
- top-k queries plan as TakeOrderedAndProject (no global sort);
- parquet scans get filters pushed down and columns pruned;
- the connected-components driver finish hands its result back without
  a pickled Python RDD;
- each flagship layer adds a fixed number of shuffles.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_linking_is_broadcast_join(spark, sf_dir_smoke):
    from memex_kg_spark import pipeline
    from memex_kg_spark.operators.extraction import (
        extract_statements, statements_to_mentions)
    from memex_kg_spark.operators.linking import link_mentions

    d = pipeline.load_synth(spark, sf_dir_smoke)
    mentions = statements_to_mentions(
        extract_statements(d["transcripts"]), d["alias_dim"])
    plan = _plan(link_mentions(mentions, d["alias_dim"]))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extraction_stage_is_narrow(spark, sf_dir_smoke):
    """mapInPandas over the scan must introduce NO shuffle."""
    from memex_kg_spark import pipeline
    from memex_kg_spark.operators.extraction import extract_statements

    d = pipeline.load_synth(spark, sf_dir_smoke)
    plan = _plan(extract_statements(d["transcripts"]))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_statement_triples_fact_side_never_shuffles(spark, sf_dir_smoke):
    """All three dimension joins broadcast; the only Exchanges in the full
    triple plan belong to the final per-turn dedup (hash aggregate), never
    to a join."""
    from memex_kg_spark import pipeline

    d = pipeline.load_synth(spark, sf_dir_smoke)
    statements = pipeline.extract_statements(d["transcripts"])
    st = pipeline.statement_triples(statements, d["alias_dim"],
                                    d["pred_dim"])
    plan = _plan(st)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_shuffles_per_layer(spark, sf_dir_smoke):
    """Shuffles are the cost that matters at scale and a counter host
    noise cannot move. ``keep`` records each fan-out's plan and then
    localCheckpoints it, so every layer's plan starts from flat scans of
    the layers before it and counts only the Exchanges it adds itself
    (broadcast exchanges excluded)."""
    from memex_kg_spark import pipeline

    plans = []

    def keep(df):
        plans.append(_plan(df))
        return df.localCheckpoint()

    kg = pipeline.build_kg(spark, sf_dir_smoke, keep=keep)
    layers = dict(zip(("statements", "mentions", "triples", "nodes"), plans))
    layers.update(linked_mentions=_plan(kg["linked_mentions"]),
                  edges=_plan(kg["edges"]))
    shuffles = {k: len(re.findall(r"\bExchange\b", p))
                for k, p in layers.items()}
    assert shuffles == {"statements": 0, "mentions": 1, "linked_mentions": 0,
                        "triples": 2, "nodes": 1, "edges": 2}


def test_topk_plans_take_ordered(spark, testdata_sf001):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject — the
    inconsistently-pushed-down LIMIT of the reference (db/db_search.py:237
    sorts everything, slices in Python) is the perf bug we must not have."""
    from memex_kg_spark.queries.relational import (q_topk_per_group,
                                                   topk_global_plan_probe)

    df = topk_global_plan_probe(spark, testdata_sf001)
    assert "TakeOrderedAndProject" in _plan(df)
    # the REGISTERED query must keep the top-k path on its global half
    # too (the probe alone can't guard a refactor of q_topk_per_group)
    assert "TakeOrderedAndProject" in _plan(
        q_topk_per_group(spark, testdata_sf001))


def test_parquet_filter_pushdown_and_pruning(spark, testdata_sf001):
    """A filtered two-column projection must reach the scan as
    PushedFilters + a pruned ReadSchema."""
    li = spark.read.parquet(f"{testdata_sf001}/lineitem.parquet")
    df = (li.filter(F.col("l_quantity") < 10)
          .select("l_orderkey", "l_quantity"))
    opt = _optimized(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity" in opt
    scan_schema = opt.split("ReadSchema:")[-1]
    assert "l_orderkey" in scan_schema and "l_quantity" in scan_schema
    assert "l_comment" not in scan_schema


def test_salted_counts_two_phase(spark, sf_dir_smoke):
    """The salted aggregation must contain BOTH aggregate phases keyed
    (key, salt) then (key) — the explicit skew-containment pattern."""
    from memex_kg_spark import pipeline
    from memex_kg_spark.operators.canonicalize import salted_counts
    from memex_kg_spark.operators.extraction import (
        extract_statements, statements_to_mentions)

    d = pipeline.load_synth(spark, sf_dir_smoke)
    mentions = statements_to_mentions(
        extract_statements(d["transcripts"]), d["alias_dim"])
    plan = _plan(salted_counts(mentions, "norm_surface"))
    assert plan.count("HashAggregate") >= 4  # partial+final x two phases
    assert "_salt" in plan


def test_cc_driver_finish_has_no_python_rdd(spark):
    """``canonical_components`` hands its driver union-find result back
    as an Arrow local relation. A Python list would plan as ``Scan
    ExistingRDD`` over pickled rows and leave a Python worker pool
    running for the rest of the session."""
    import pyarrow as pa

    from memex_kg_spark.operators.components import canonical_components

    alias = pa.table({
        "norm_alias": ["x", "x", "y", "y", "z", "z", "w", "w", "v"],
        "qid": ["q1", "q2", "q2", "q3", "q4", "q5", "q5", "q6", "q7"]})
    cc = canonical_components(alias, spark)
    got = {r["qid"]: r["canonical_id"] for r in cc.collect()}
    assert got == {"q1": "q1", "q2": "q1", "q3": "q1", "q4": "q4",
                   "q5": "q4", "q6": "q4", "q7": "q7"}
    plan = _plan(cc)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
