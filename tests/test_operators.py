"""Per-operator unit tests (SURVEY.md §5 strategy)."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from memex_kg_spark.operators.canonicalize import salted_counts
from memex_kg_spark.operators.components import (
    canonical_components,
    connected_components_twostar,
)
from memex_kg_spark.operators.extraction import (
    extract_statements,
    extract_statements_sql,
)
from memex_kg_spark.functions.geo import haversine_km
from memex_kg_spark.pipeline import load_synth
from memex_kg_spark.synth.vocab import clean_label


def test_pandas_vs_sql_extraction(spark, sf_dir_smoke):
    """The mapInPandas stage and its whole-stage-codegen twin must agree
    row-for-row (same statements, offsets, ordering keys)."""
    tr = load_synth(spark, sf_dir_smoke)["transcripts"]
    cols = ["conv_id", "turn_idx", "sent_idx", "subj_surface", "phrase",
            "obj_surface", "subj_start", "obj_start"]
    a = extract_statements(tr).toPandas()[cols]
    b = extract_statements_sql(tr).toPandas()[cols]
    key = lambda d: sorted(map(tuple, d.astype(str).values))  # noqa: E731
    assert key(a) == key(b)


def test_salted_counts_equals_plain(spark, sf_dir_smoke):
    tr = load_synth(spark, sf_dir_smoke)["transcripts"]
    plain = (tr.groupBy("role").count()
             .withColumnRenamed("count", "n").toPandas())
    salted = salted_counts(tr, "role", n_salts=8).toPandas()
    a = plain.sort_values("role").reset_index(drop=True)
    b = salted.sort_values("role").reset_index(drop=True)
    assert (a["role"] == b["role"]).all()
    assert (a["n"].astype(int) == b["n"].astype(int)).all()


def test_connected_components_fixture(spark):
    """F5 fixture: two components (ring of 4 + star with hot hub of 5),
    plus two singleton-free isolates via a bridge; golden labels = min id."""
    import pyarrow as pa

    edges = [
        # ring: a-b-c-d-a
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
        # star with hub h: h-x1..x4, and a chain tail x4-y1-y2
        ("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"),
        ("x4", "y1"), ("y1", "y2"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    want = {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "h": "h", "x1": "h", "x2": "h", "x3": "h", "x4": "h",
        "y1": "h", "y2": "h",
    }
    # distributed large-star/small-star loop (the scale path)
    got_dist = {r["id"]: r["component"]
                for r in connected_components_twostar(df).collect()}
    assert got_dist == want
    # canonical_map's driver build, each edge written as an alias that
    # its two endpoints share
    alias = pa.table({
        "norm_alias": [f"e{i}" for i, e in enumerate(edges) for _ in e],
        "qid": [v for e in edges for v in e]})
    got_drv = {r["qid"]: r["canonical_id"]
               for r in canonical_components(alias, spark).collect()}
    assert got_drv == want


def test_haversine_known_value(spark):
    """Paris (48.8566, 2.3522) to Rome (41.9028, 12.4964) ~= 1105.76 km."""
    df = spark.range(1).select(
        haversine_km(F.lit(48.8566), F.lit(2.3522),
                     F.lit(41.9028), F.lit(12.4964)).alias("d"))
    d = df.collect()[0]["d"]
    assert math.isclose(d, 1105.76, rel_tol=0.005), d


def test_clean_label_reference_rules():
    """P7 parity: strip non-alnum (keeping space/newline/dot), spaces->_,
    '3'->'three' — exact order (recursive_hops_ingestion.py:53-55)."""
    assert clean_label("located in") == "located_in"
    assert clean_label("adjoins (3rd ed.)") == "adjoins_threerd_ed."
    assert clean_label("architect #3") == "architect_three"
    assert clean_label("a,b;c") == "abc"


def test_determinism_across_partitionings(spark, sf_dir_smoke):
    """Same input at 1 vs 16 partitions -> identical sorted triple set
    (the sandbox stand-in for N vs 4N executors determinism)."""
    from memex_kg_spark.pipeline import build_triples

    d = load_synth(spark, sf_dir_smoke)
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj", "obj_type"]
    t1 = build_triples(d["transcripts"].repartition(1), d["alias_dim"],
                       d["pred_dim"])[1].toPandas()[cols]
    t16 = build_triples(d["transcripts"].repartition(16), d["alias_dim"],
                        d["pred_dim"])[1].toPandas()[cols]
    key = lambda x: sorted(map(tuple, x.astype(str).values))  # noqa: E731
    assert key(t1) == key(t16)


def test_synth_determinism():
    from memex_kg_spark.synth import gen_conv_batch

    a = gen_conv_batch(range(5))
    b = gen_conv_batch(range(5))
    pd.testing.assert_frame_equal(a, b)
    # unique (conv_id, turn_idx)
    assert not a.duplicated(["conv_id", "turn_idx"]).any()


def test_synth_edge_cases():
    from memex_kg_spark.synth import gen_conv_batch

    df = gen_conv_batch(range(200))
    texts = df["text"]
    assert (texts == "").any(), "needs empty-text turns"
    assert (texts == "...").any(), "needs punctuation-only turns"
    assert texts.str.contains('"quoted"', regex=False).any()
    assert texts.str.contains("a\\b", regex=False).any()
    assert texts.str.contains("café", regex=False).any()


def test_canonical_map_follows_rewritten_dimension(spark, tmp_path):
    """A dimension rewritten in place under the same path and plan gets
    a fresh canonical map in the same session: the memo key includes
    the source files' mtime and size, not only the plan."""
    from memex_kg_spark.operators.components import canonical_map

    path = str(tmp_path / "alias_dim.parquet")

    def write(groups):
        pd.DataFrame(
            [(f"a{i}", q) for i, qs in enumerate(groups) for q in qs],
            columns=["norm_alias", "qid"]).to_parquet(path, index=False)
        return {r["qid"]: r["canonical_id"]
                for r in canonical_map(spark.read.parquet(path)).collect()}

    before = write([["Q1", "Q2"], ["Q3", "Q4"], ["Q5"]])
    assert before == {"Q1": "Q1", "Q2": "Q1", "Q3": "Q3", "Q4": "Q3",
                      "Q5": "Q5"}
    after = write([["Q1", "Q2"], ["Q2", "Q3", "Q4"], ["Q4", "Q5"],
                   ["Q6"]])
    assert after == {q: "Q1" for q in ("Q1", "Q2", "Q3", "Q4", "Q5")} | {
        "Q6": "Q6"}


def test_alias_winners_follow_rewritten_dimension(spark, tmp_path):
    """Winners are memoized per dimension through ``memo.dim_memo``: a
    dimension rewritten in place with a different prior order gets the
    new winner in the same session."""
    from memex_kg_spark.operators.linking import alias_winners

    path = str(tmp_path / "alias_dim.parquet")

    def write(priors):
        pd.DataFrame(
            [("paris", q, q.lower(), "place", p) for q, p in priors.items()],
            columns=["norm_alias", "qid", "label", "node_type", "prior"],
        ).to_parquet(path, index=False)
        return {r["norm_alias"]: r["qid"]
                for r in alias_winners(spark.read.parquet(path)).collect()}

    assert write({"Q1": 0.9, "Q2": 0.1}) == {"paris": "Q1"}
    assert write({"Q1": 0.1, "Q2": 0.9}) == {"paris": "Q2"}


def test_kg_nodes_twostar_is_memoized(spark, testdata_sf001):
    """``q_kg_nodes`` builds its twostar component frame once per alias
    dimension: a second call in the same session starts no Spark job."""
    from memex_kg_spark.queries.kg import q_kg_nodes

    first = q_kg_nodes(spark, testdata_sf001)
    sc = spark.sparkContext
    sc.setJobGroup("kg-nodes-again", "second q_kg_nodes call")
    try:
        second = q_kg_nodes(spark, testdata_sf001)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("kg-nodes-again") == []
    assert (second.select("qid", "canonical_id_twostar")
            .exceptAll(first.select("qid", "canonical_id_twostar"))
            .count() == 0)


def test_dim_memo_builds_once_under_concurrent_misses():
    """Threads missing one entry at once (the writer's concurrent buckets
    on a fresh session) wait for a single build; a second key builds on
    its own."""
    import sys
    import threading
    import time
    from types import SimpleNamespace

    from memex_kg_spark.operators.memo import dim_memo

    n = 8  # more threads than the cores of a small host
    session, calls, got = SimpleNamespace(), [], []
    start = threading.Barrier(n, timeout=10)

    def build():
        calls.append(1)
        time.sleep(0.2)
        return len(calls)

    def worker():
        start.wait()
        got.append(dim_memo(session, "_test_memo", "k", build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1 and got == [1] * n
    assert dim_memo(session, "_test_memo", "other", build) == 2


def test_alias_dims_setup_job_count(spark, sf_dir_smoke, tmp_path):
    """Set-up (the alias dimension's five broadcast derivatives) issues
    a bounded number of Spark jobs, a count host noise cannot move: one
    Arrow collection and one checkpoint per derivative handed back (the
    gate is a projection of the winners), 5 in all; 21-23 when each
    derivative was its own Spark plan. A second round issues none. The
    dimension is copied so the memo starts cold."""
    import shutil

    from memex_kg_spark import pipeline
    from memex_kg_spark.operators.canonicalize import entity_dim
    from memex_kg_spark.operators.components import canonical_map
    from memex_kg_spark.operators.extraction import statements_to_mentions
    from memex_kg_spark.operators.linking import alias_winners

    path = str(tmp_path / "alias_dim.parquet")
    shutil.copy(f"{sf_dir_smoke}/alias_dim.parquet", path)
    alias = spark.read.parquet(path)
    statements = extract_statements(
        load_synth(spark, sf_dir_smoke)["transcripts"])
    sc = spark.sparkContext

    def setup_jobs(group):
        sc.setJobGroup(group, "alias dimension set-up")
        try:
            alias_winners(alias)
            statements_to_mentions(statements, alias)
            pipeline.claim_triples(statements, alias)
            entity_dim(alias)
            canonical_map(alias)
        finally:
            sc.setJobGroup(None, None)
        return sc.statusTracker().getJobIdsForGroup(group)

    assert 0 < len(setup_jobs("alias-setup-cold")) <= 6
    assert setup_jobs("alias-setup-warm") == []


def _adversarial_alias_dim() -> pd.DataFrame:
    """Equal priors (the minimum qid must win, listed last), a chain
    joined through two aliases whose first-listed qid is not the
    minimum, a hub alias, singletons, and a qid with empty prop arrays."""
    rows = [  # norm_alias, qid, prior, prop_keys, prop_vals
        ("tie", "Q7", 0.5, ["P1"], ["Q8"]),
        ("tie", "Q5", 0.5, ["P1", "P2"], ["Q7", "x"]),
        ("tie", "Q50", 0.5, [], []),
        ("link a", "Q12", 0.2, ["P3"], ["y"]),
        ("link a", "Q11", 0.9, ["P3"], ["z"]),
        ("link b", "Q11", 0.9, ["P3"], ["z"]),
        ("link b", "Q9", 0.1, [], []),
        ("solo", "Q30", 1.0, ["P4"], ["w"]),
        ("alone", "Q31", 0.3, [], []),
    ] + [("hub", f"Q2{i}", 0.1 * i, [], []) for i in range(6)] \
      + [(f"own {i}", f"Q2{i}", 1.0, [], []) for i in range(6)]
    df = pd.DataFrame(rows, columns=["norm_alias", "qid", "prior",
                                     "prop_keys", "prop_vals"])
    return df.assign(label=df["qid"].str.lower(), node_type="Knowledge",
                     lat=float("nan"), lon=float("nan"))


def test_alias_dims_match_oracle(spark, tmp_path):
    """The driver derivation of winners, entity rows, claim props and the
    canonical map agrees with ``reference_impl`` on an adversarial
    dimension, and a dimension of aliases alone still gates mentions."""
    from memex_kg_spark import pipeline
    from memex_kg_spark.operators.canonicalize import entity_dim
    from memex_kg_spark.operators.components import canonical_map
    from memex_kg_spark.operators.extraction import statements_to_mentions
    from memex_kg_spark.operators.linking import alias_winners
    from memex_kg_spark.operators.memo import alias_part
    from memex_kg_spark.oracle import reference_impl

    dim = _adversarial_alias_dim()

    path = str(tmp_path / "alias_dim.parquet")
    dim.to_parquet(path, index=False)
    alias = spark.read.parquet(path)
    winners = {r["norm_alias"]: r for r in alias_winners(alias).collect()}
    assert {a: r["qid"] for a, r in winners.items()} == \
        reference_impl.winner_map(dim)
    assert winners["tie"]["qid"] == "Q5"
    assert (winners["link a"]["label"], winners["link a"]["score"]) == \
        ("q11", 0.9)

    ents = {r["qid"]: r for r in entity_dim(alias).collect()}
    assert set(ents) == set(dim["qid"])
    assert ents["Q50"]["prop_keys"] == [] and ents["Q50"]["label"] == "q50"
    props = {tuple(r) for r in alias_part(alias, "props").collect()}
    first = dim.drop_duplicates("qid")
    assert props == {(q, k, v) for q, ks, vs in zip(
        first["qid"], first["prop_keys"], first["prop_vals"])
        for k, v in zip(ks, vs)}
    assert not any(q == "Q50" for q, _, _ in props)
    claims = pipeline.claim_triples(
        spark.createDataFrame(pd.DataFrame(
            {"conv_id": ["c"], "turn_idx": [0], "subj_surface": ["Tie"],
             "obj_surface": ["Link A"]})), alias)
    assert sorted((r["subj"], r["pred"], r["obj"], r["obj_type"])
                  for r in claims.collect()) == [
        ("Q11", "P3", "z", "literal"), ("Q5", "P1", "Q7", "entity"),
        ("Q5", "P2", "x", "literal")]

    expected = reference_impl.connected_components(dim)
    assert expected["Q12"] == expected["Q9"] == "Q11"
    assert {expected[f"Q2{i}"] for i in range(6)} == {"Q20"}
    assert {r["qid"]: r["canonical_id"]
            for r in canonical_map(alias).collect()} == expected

    only = str(tmp_path / "aliases_only.parquet")
    dim[["norm_alias"]].to_parquet(only, index=False)
    mentions = statements_to_mentions(spark.createDataFrame(pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": [0], "subj_surface": ["Tie"],
         "subj_start": [0], "obj_surface": ["nobody"], "obj_start": [8]})),
        spark.read.parquet(only))
    assert [r["norm_surface"] for r in mentions.collect()] == ["tie"]


def test_fulltext_index_follows_rewritten_docs(spark, tmp_path):
    """The fulltext index is memoized per documents table through
    ``memo.dim_memo`` keyed on ``df_key``: a table rewritten in place
    gets a fresh index in the same session."""
    from memex_kg_spark.operators.fulltext import fulltext_topk

    path = str(tmp_path / "documents.parquet")

    def write(texts):
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}
                     ).to_parquet(path, index=False)
        docs = spark.read.parquet(path)
        return sorted(r["doc_id"]
                      for r in fulltext_topk(docs, ["eiffel"]).collect())

    assert write(["eiffel tower", "louvre"]) == [0]
    assert write(["louvre museum", "eiffel tower", "eiffel"]) == [1, 2]
