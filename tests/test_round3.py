"""Round-3 additions: registry fits the driver's 50-row CORRECTNESS
budget, the registered Jaccard is df-capped (hot-shingle anti-join in
the physical plan), and the merged multi-part rows keep every folded
operator value-checked."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.harness import compare


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- registry budget ---------------------------------------------------------


def test_registry_fits_driver_budget():
    """Every registered key must get a CORRECTNESS row: the driver
    records at most DRIVER_ROW_BUDGET rows per round (r01/r02 truncated
    at exactly 50; r02 lost 13 keys past the cap)."""
    from memex_kg_spark.queries.registry import (DRIVER_ROW_BUDGET,
                                                 all_oracle_sql,
                                                 all_queries)
    qs = all_queries()
    assert len(qs) <= DRIVER_ROW_BUDGET
    # every key has an oracle except the deliberate rows-only DS tail
    missing = [k for k in qs if k not in all_oracle_sql()]
    assert missing == ["dominant_set_clusters"]


def test_rows_only_keys_front_loaded():
    """The rows-only + multimodal keys sit early so any future budget
    truncation hits SQL-checked tail keys first, never the weak ones."""
    from memex_kg_spark.queries.registry import all_queries
    keys = list(all_queries())
    assert keys.index("dominant_set_clusters") < 15
    assert keys.index("multimodal_features") < 15


# --- df-capped Jaccard is the REGISTERED form --------------------------------


def test_registered_jaccard_is_capped(spark, testdata_sf01):
    """The registered dedup_jaccard plan must contain the hot-shingle
    anti-join (the max_df cap) — no uncapped candidate bucket."""
    from memex_kg_spark.queries.vector import q_dedup_jaccard
    plan = _plan(q_dedup_jaccard(spark, testdata_sf01))
    assert "LeftAnti" in plan  # hot-shingle exclusion before the join


# --- upsert / edit semantics --------------------------------------------------


def test_upsert_idempotent_and_last_writer_wins(spark):
    from memex_kg_spark.operators.upsert import upsert
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    upd = spark.createDataFrame(
        [(2, "B"), (4, "D")], ["k", "v"])
    once = upsert(base, upd, ["k"])
    twice = upsert(once, upd, ["k"])
    want = {(1, "a"), (2, "B"), (3, "c"), (4, "D")}
    assert {tuple(r) for r in once.collect()} == want
    assert {tuple(r) for r in twice.collect()} == want


def test_upsert_rejects_schema_mismatch(spark):
    import pytest
    from memex_kg_spark.operators.upsert import upsert
    base = spark.createDataFrame([(1, "a")], ["k", "v"])
    upd = spark.createDataFrame([(1, "a", "x")], ["k", "v", "extra"])
    with pytest.raises(ValueError):
        upsert(base, upd, ["k"])


def test_incremental_finalize_scans_only_new_buckets(spark, sf_dir_smoke,
                                                     tmp_path):
    """finalize_graph must derive nodes/edges from NEW buckets only after
    the first full build, and the incremental result must equal a full
    rebuild from all triples."""
    import pytest as _pytest
    from memex_kg_spark.io.tables import ResumableKGWriter
    from memex_kg_spark.pipeline import build_graph, build_triples, load_synth

    root = str(tmp_path / "kginc")
    w = ResumableKGWriter(spark, sf_dir_smoke, root, n_buckets=6,
                          run_id="inc1")
    with _pytest.raises(RuntimeError, match="simulated crash"):
        w.run(fail_after=2)
    w.finalize_graph()
    assert w.last_finalize["mode"] == "full"
    assert len(w.last_finalize["buckets_scanned"]) == 2

    w2 = ResumableKGWriter(spark, sf_dir_smoke, root, n_buckets=6,
                           run_id="inc2")
    w2.run()
    nodes, edges = w2.finalize_graph()
    assert w2.last_finalize["mode"] == "incremental"
    assert len(w2.last_finalize["buckets_scanned"]) == 4

    d = load_synth(spark, sf_dir_smoke)
    _, tri = build_triples(d["transcripts"], d["alias_dim"], d["pred_dim"])
    full_nodes, full_edges = build_graph(tri, d["alias_dim"], d["pred_dim"])
    got_n = {(r["qid"], r["label"], r["canonical_id"])
             for r in nodes.collect()}
    want_n = {(r["qid"], r["label"], r["canonical_id"])
              for r in full_nodes.collect()}
    assert got_n == want_n
    got_e = {(r["src"], r["pred"], r["dst"]) for r in edges.collect()}
    want_e = {(r["src"], r["pred"], r["dst"])
              for r in full_edges.collect()}
    assert got_e == want_e

    # third finalize: nothing new, nothing scanned
    w3 = ResumableKGWriter(spark, sf_dir_smoke, root, n_buckets=6,
                           run_id="inc3")
    w3.finalize_graph()
    assert w3.last_finalize["buckets_scanned"] == []


def test_rerun_after_edit_converges(spark, sf_dir_smoke, tmp_path):
    """Resume story extended to edits: finalize the graph, apply an edit
    batch via upsert, re-apply the SAME batch (the crash-replay case) —
    the graph must not drift, and only the edited keys differ from the
    original."""
    from memex_kg_spark.io.tables import ResumableKGWriter
    from memex_kg_spark.operators.upsert import upsert
    from pyspark.sql import functions as F

    w = ResumableKGWriter(spark, sf_dir_smoke, str(tmp_path / "kg"),
                          n_buckets=2, run_id="edit-run")
    w.run()
    nodes, _ = w.finalize_graph()
    # deterministic pick: limit() without orderBy may select different
    # rows on each re-evaluation of the (uncached) plan
    edits = (nodes.orderBy("qid").limit(3)
             .withColumn("label", F.concat(F.col("label"),
                                           F.lit(" (edited)")))
             .localCheckpoint())
    v1 = upsert(nodes, edits, ["qid"])
    v2 = upsert(v1, edits, ["qid"])
    rows1 = {r["qid"]: r["label"] for r in v1.collect()}
    rows2 = {r["qid"]: r["label"] for r in v2.collect()}
    assert rows1 == rows2  # replaying the edit batch is a no-op
    orig = {r["qid"]: r["label"] for r in nodes.collect()}
    changed = {q for q in orig if rows1[q] != orig[q]}
    assert changed == {r["qid"] for r in edits.collect()}
