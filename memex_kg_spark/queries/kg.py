"""KG-pipeline queries with DuckDB oracle SQL twins.

Each Spark callable runs a stage of the KG-construction pipeline over the
deterministic synthetic transcript corpus (the BASELINE.json-mandated input
shape); the paired SQL string re-derives the same result in pure ANSI SQL
over the SAME parquet files, so the driver's row-count/schema/value-hash
comparison checks real semantics, not a mirror of the implementation.

The driver runs at sf=0.01; callables map the given testdata sf_dir to the
matching synthetic scale and lazily materialize it (idempotent).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..synth.generator import ensure_synth
from ..synth.vocab import STATEMENT_PATTERN
from .. import pipeline
from ..operators.canonicalize import salted_counts


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    return float(m.group(1)) if m else 0.01


def synth_for(sf_dir: str) -> str:
    return ensure_synth(sf_of(sf_dir))


# --- session-scoped KG artifact cache ---------------------------------------


def kg_artifacts(spark: SparkSession, sf_dir: str) -> dict:
    """Build the KG pipeline outputs ONCE per (session, corpus) and reuse
    them across every driver query callable.

    The driver runs ~50 independent queries; a dozen of them consume the
    pipeline's triples/nodes/edges. Rebuilding extraction+linking per
    query multiplies the suite wall time ~12x for zero information — at
    production scale these are materialized tables downstream queries
    scan, and the localCheckpoint here is the in-process stand-in for
    that materialization (it also truncates lineage so iterative
    consumers like PPR re-plan from a flat scan). Memoized on the session
    by ``memo.dim_memo``, keyed on the corpus files' (mtime, size): a
    driver-side ``os.stat`` that starts no Spark job."""
    from ..operators.memo import dim_memo

    p = synth_for(sf_dir)
    key = (p,) + tuple((st.st_mtime_ns, st.st_size) for st in (
        os.stat(f"{p}/{t}.parquet") for t in pipeline.CORPUS_TABLES))

    def _build():
        a = pipeline.build_kg(spark, p, keep=lambda df: df.localCheckpoint())
        return {**a, "edges": a["edges"].localCheckpoint()}

    return dim_memo(spark, "_kg_artifact_memo", key, _build)


# --- shared DuckDB CTE text -------------------------------------------------

_PAT = STATEMENT_PATTERN  # no quotes/backslashes by construction


def _cte(p: str) -> str:
    return f"""
t AS (SELECT conv_id, turn_idx, text
      FROM read_parquet('{p}/transcripts.parquet')),
alias_dim AS (SELECT * FROM read_parquet('{p}/alias_dim.parquet')),
pred_dim AS (SELECT * FROM read_parquet('{p}/pred_dim.parquet')),
sent AS (SELECT conv_id, turn_idx,
                unnest(string_split(text, '. ')) AS piece,
                generate_subscripts(string_split(text, '. '), 1) - 1
                    AS sent_idx
         FROM t),
sent2 AS MATERIALIZED (SELECT conv_id, turn_idx, sent_idx,
                 regexp_replace(piece, '\\.$', '') AS sentence,
                 CAST(coalesce(sum(length(piece) + 2) OVER (
                     PARTITION BY conv_id, turn_idx ORDER BY sent_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS INTEGER) AS sent_off
          FROM sent),
stmt AS MATERIALIZED (SELECT conv_id, turn_idx, sent_idx, sent_off,
                regexp_extract(sentence, '{_PAT}', 1) AS subj_surface,
                regexp_extract(sentence, '{_PAT}', 2) AS phrase,
                regexp_extract(sentence, '{_PAT}', 3) AS obj_surface
         FROM sent2 WHERE regexp_matches(sentence, '{_PAT}')),
winners AS MATERIALIZED (SELECT norm_alias, qid, label, node_type FROM (
                SELECT norm_alias, qid, label, node_type,
                       row_number() OVER (PARTITION BY norm_alias
                           ORDER BY prior DESC, qid ASC) AS rk
                FROM alias_dim) WHERE rk = 1),
slots AS (SELECT conv_id, turn_idx, subj_surface AS surface,
                 sent_off AS pos FROM stmt
          UNION ALL
          SELECT conv_id, turn_idx, obj_surface AS surface,
                 sent_off + length(subj_surface) + length(phrase) + 2 AS pos
          FROM stmt),
mentions AS MATERIALIZED (SELECT conv_id, turn_idx,
                    CAST(row_number() OVER (PARTITION BY conv_id, turn_idx
                        ORDER BY pos, surface) - 1 AS BIGINT) AS mention_id,
                    surface, lower(surface) AS norm_surface,
                    CAST(pos AS INTEGER) AS start,
                    CAST(pos + length(surface) AS INTEGER) AS "end"
             FROM slots
             WHERE lower(surface) IN (SELECT norm_alias FROM alias_dim)),
st AS MATERIALIZED (SELECT DISTINCT m.conv_id, m.turn_idx, ws.qid AS subj, p.pred,
              wo.qid AS obj, 'entity' AS obj_type
       FROM stmt m
       JOIN winners ws ON lower(m.subj_surface) = ws.norm_alias
       JOIN winners wo ON lower(m.obj_surface) = wo.norm_alias
       JOIN pred_dim p ON m.phrase = p.phrase),
linked AS MATERIALIZED (SELECT DISTINCT conv_id, turn_idx, qid FROM (
               SELECT m.conv_id, m.turn_idx, w.qid FROM stmt m
               JOIN winners w ON lower(m.subj_surface) = w.norm_alias
               UNION ALL
               SELECT m.conv_id, m.turn_idx, w.qid FROM stmt m
               JOIN winners w ON lower(m.obj_surface) = w.norm_alias)),
props AS (SELECT qid, unnest(prop_keys) AS pred, unnest(prop_vals) AS obj
          FROM (SELECT DISTINCT qid, prop_keys, prop_vals FROM alias_dim)),
claim AS MATERIALIZED (SELECT DISTINCT l.conv_id, l.turn_idx, l.qid AS subj, pr.pred,
                 pr.obj,
                 CASE WHEN regexp_matches(pr.obj, '^Q[0-9]+$')
                      THEN 'entity' ELSE 'literal' END AS obj_type
          FROM linked l JOIN props pr USING (qid)),
triples AS MATERIALIZED (SELECT DISTINCT * FROM
                (SELECT * FROM st UNION ALL SELECT * FROM claim)),
aedges AS (SELECT qid AS a, root AS b FROM (
               SELECT qid, min(qid) OVER (PARTITION BY norm_alias) AS root
               FROM alias_dim) WHERE qid <> root),
sym AS (SELECT DISTINCT a, b FROM (
            SELECT a, b FROM aedges
            UNION ALL SELECT b AS a, a AS b FROM aedges)),
ids AS (SELECT DISTINCT qid FROM alias_dim),
reach(x, y) AS (SELECT qid, qid FROM ids
                UNION
                SELECT r.x, s.b FROM reach r JOIN sym s ON r.y = s.a),
canon AS MATERIALIZED (SELECT x AS qid, min(y) AS canonical_id FROM reach GROUP BY x),
node_ids AS MATERIALIZED (SELECT DISTINCT qid FROM (
                 SELECT subj AS qid FROM triples
                 UNION ALL
                 SELECT obj AS qid FROM triples WHERE obj_type = 'entity')),
dim AS (SELECT DISTINCT qid, label, node_type, lat, lon FROM alias_dim),
nodes AS MATERIALIZED (SELECT d.qid, d.label, d.node_type, d.lat, d.lon, c.canonical_id
          FROM node_ids JOIN dim d USING (qid) JOIN canon c USING (qid)),
edges AS MATERIALIZED (SELECT DISTINCT subj AS src, pred, obj AS dst FROM triples
          WHERE obj_type = 'entity'
            AND subj IN (SELECT qid FROM node_ids)
            AND obj IN (SELECT qid FROM node_ids))
"""


def _wrap(p: str, body: str) -> str:
    return "WITH RECURSIVE " + _cte(p) + "\n" + body


# --- Spark callables --------------------------------------------------------


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kg_artifacts(spark, sf_dir)["mentions"]


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kg_artifacts(spark, sf_dir)["triples"]


def q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes with the dynamic property map hashed as a canonical sorted
    ``k=v;...`` string (maps render engine-specifically; the string form
    makes the value hash engine-portable).

    ``canonical_id_twostar`` recomputes the canonical id with the
    large-star/small-star algorithm (r5 verdict #3: the twostar CC was
    property-tested but invisible to the driver artifact). Its component
    is the minimum qid, like ``canonical_map``'s, so the oracle asserts
    it equals the recursive-CTE canonical id — the value hash covers
    BOTH CC builds.
    The twostar frame is memoized per alias dimension, so a repeat call
    in the same session reruns none of its rounds."""
    art = kg_artifacts(spark, sf_dir)
    nodes = art["nodes"]
    from ..operators.components import (alias_component_edges,
                                        connected_components_twostar)
    from ..operators.memo import df_key, dim_memo
    alias_dim = art["alias_dim"]
    cc2 = dim_memo(spark, "_kg_twostar_memo", df_key(alias_dim),
                   lambda: connected_components_twostar(
                       alias_component_edges(alias_dim)))
    props_str = F.array_join(
        F.array_sort(F.transform(
            F.map_entries("props"),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]))), ";")
    return (nodes.select("qid", "label", "node_type", "lat", "lon",
                         "canonical_id", props_str.alias("props_str"))
            .join(cc2.withColumnRenamed("id", "qid"), "qid", "left")
            .select("qid", "label", "node_type", "lat", "lon",
                    "canonical_id", "props_str",
                    F.coalesce("component", "qid")
                    .alias("canonical_id_twostar")))


def q_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges with the multilingual label map projected to one column per
    language (the fixed {en,fr,pt,es} key set the reference attaches)."""
    edges = kg_artifacts(spark, sf_dir)["edges"]
    return edges.select(
        "src", "pred", "dst",
        F.element_at("labels", "en").alias("label_en"),
        F.element_at("labels", "fr").alias("label_fr"),
        F.element_at("labels", "pt").alias("label_pt"),
        F.element_at("labels", "es").alias("label_es"))


def q_kg_turn_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: the per-row invariant view — stable (conv_id, turn_idx) ordering
    with a text digest; row-for-row comparable at any parallelism."""
    d = kg_artifacts(spark, sf_dir)
    return (pipeline.stable_turns(d["transcripts"])
            .select("conv_id", "turn_idx",
                    F.col("turn_seq").cast("long").alias("turn_seq"),
                    F.md5(F.coalesce(F.col("text"), F.lit("")))
                    .alias("text_md5")))


def q_kg_pred_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 count family in one row (merged r3 for the 50-row budget):
    ``kind='pred'`` per-predicate triple counts; ``kind='hot_entity'``
    top-20 linked-mention counts (the Zipf head, T-style top-k);
    ``kind='category'`` the reference's category-count vector
    (main.py:240-249 — counts of instance_of targets by label)."""
    a = kg_artifacts(spark, sf_dir)
    triples, nodes, edges = a["triples"], a["nodes"], a["edges"]
    preds = (triples.groupBy("pred")
             .agg(F.count("*").alias("n"))
             .select(F.lit("pred").alias("kind"),
                     F.col("pred").alias("name"), "n"))
    hot = (a["linked_mentions"]
           .groupBy("qid")
           .agg(F.count("*").alias("n"))
           .orderBy(F.col("n").desc(), F.col("qid").asc())
           .limit(20)
           .select(F.lit("hot_entity").alias("kind"),
                   F.col("qid").alias("name"), "n"))
    tgt = nodes.select(F.col("qid").alias("dst"),
                       F.col("label").alias("category"))
    cats = (edges.filter(F.col("pred") == "instance_of")
            .join(F.broadcast(tgt), "dst")
            .groupBy("category").agg(F.count("*").alias("n"))
            .select(F.lit("category").alias("kind"),
                    F.col("category").alias("name"), "n"))
    return (preds.unionByName(hot).unionByName(cats)
            .orderBy("kind", "name"))


def q_kg_mention_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/skew path: two-phase salted count per normalized surface form —
    must equal the plain GROUP BY count the oracle computes."""
    mentions = kg_artifacts(spark, sf_dir)["mentions"]
    return salted_counts(mentions, "norm_surface", out="n_mentions")


def q_node_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CRUD mutation semantics in one row. Parts: (a) update/edit
    (reference edit_story + property rewrite, db/db_connection.py:
    305-330,174-203) as a key-wise MERGE — a deterministic edit batch
    (every qid = 0 mod 17 gets its label suffixed) plus two brand-new
    nodes, applied TWICE through operators/upsert.upsert so the second
    application must be a no-op (idempotence); (b) DETACH DELETE
    (reference delete_story, db/db_connection.py:348-361) — every qid
    = 5 mod 23 is removed along with its incident edges, and each
    surviving node carries ``deg``, its endpoint count over the
    SURVIVING edge set, so the oracle value-checks the edge detachment
    too, not just the node removal; (c) ENRICH-EXISTING-NODES (new r4 —
    reference db/db_desc.py:96-141: fetch a node's description, compute
    its w2v embedding, SET the properties back onto the stored node) —
    every surviving qid = 3 mod 11 gets its label embedded
    (embed_text.avg_feature_vector, the G7 path) and the 4 embedding
    dims SET through the same upsert MERGE, value-checked as d0..d3
    (NULL on non-enriched nodes)."""
    from ..operators.embed_text import avg_feature_vector
    from ..operators.upsert import detach_delete, upsert

    nodes = kg_artifacts(spark, sf_dir)["nodes"]
    qnum = F.substring("qid", 2, 10).cast("int")
    edits = (nodes.filter(qnum % 17 == 0)
             .withColumn("label",
                         F.concat(F.col("label"), F.lit(" (edited)"))))
    fresh = spark.createDataFrame(
        [("Q900001", "new monument", "Knowledge"),
         ("Q900002", "new plaza", "Knowledge")],
        ["qid", "label", "node_type"]).select(
        "qid", "label", "node_type",
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
        F.col("qid").alias("canonical_id"),
        F.map_from_arrays(F.array().cast("array<string>"),
                          F.array().cast("array<string>")).alias("props"))
    updates = edits.unionByName(fresh)
    merged = upsert(upsert(nodes, updates, ["qid"]), updates, ["qid"])
    victims = merged.filter(qnum % 23 == 5).select("qid")
    edges = kg_artifacts(spark, sf_dir)["edges"].select("src", "dst")
    kept, surv_edges = detach_delete(merged, edges, victims)
    # (c) enrich-existing-nodes: compute the label embedding for the
    # enrich subset and SET it back through the same MERGE path (the
    # read-compute-SET maintenance job of db/db_desc.py:96-141)
    base = kept.select(
        "*", *[F.lit(None).cast("double").alias(f"d{i}")
               for i in range(4)])
    enriched = (kept.filter(qnum % 11 == 3)
                .withColumn("_e", avg_feature_vector(F.col("label"))))
    enriched = enriched.select(
        *kept.columns,
        *[F.element_at("_e", i + 1).alias(f"d{i}") for i in range(4)])
    final = upsert(base, enriched, ["qid"])
    deg = (surv_edges.select(F.col("src").alias("qid"))
           .unionAll(surv_edges.select(F.col("dst").alias("qid")))
           .groupBy("qid").agg(F.count("*").alias("deg")))
    props_str = F.array_join(
        F.array_sort(F.transform(
            F.map_entries("props"),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]))), ";")
    return (final.withColumn("props_str", props_str)
            .join(deg, "qid", "left")
            .select("qid", "label", "node_type", "lat", "lon",
                    "canonical_id", "props_str",
                    F.coalesce(F.col("deg"), F.lit(0)).cast("long")
                    .alias("deg"),
                    "d0", "d1", "d2", "d3"))


def _sql_node_upsert(p: str) -> str:
    # body starts with "," so it EXTENDS _cte's CTE list before the
    # final SELECT (merged = MERGE replay, victims/deg = DETACH DELETE)
    return _wrap(p, """
        , merged AS (
            SELECT * FROM nodes
            WHERE qid NOT IN (SELECT qid FROM (
                SELECT qid FROM nodes
                WHERE CAST(substr(qid, 2) AS INT) % 17 = 0
                UNION ALL SELECT 'Q900001' UNION ALL SELECT 'Q900002'))
            UNION ALL
            SELECT qid, label || ' (edited)' AS label, node_type,
                   lat, lon, canonical_id
            FROM nodes WHERE CAST(substr(qid, 2) AS INT) % 17 = 0
            UNION ALL
            SELECT 'Q900001', 'new monument', 'Knowledge',
                   NULL, NULL, 'Q900001'
            UNION ALL
            SELECT 'Q900002', 'new plaza', 'Knowledge',
                   NULL, NULL, 'Q900002'),
        victims AS (
            SELECT qid FROM merged
            WHERE CAST(substr(qid, 2) AS INT) % 23 = 5),
        surv_edges AS (
            SELECT src, dst FROM edges
            WHERE src NOT IN (SELECT qid FROM victims)
              AND dst NOT IN (SELECT qid FROM victims)),
        deg AS (
            SELECT qid, count(*) AS deg FROM (
                SELECT src AS qid FROM surv_edges
                UNION ALL SELECT dst AS qid FROM surv_edges)
            GROUP BY qid),
        etoks AS (
            SELECT qid, unnest(string_split_regex(trim(lower(label)),
                                                  '\\s+')) AS tok
            FROM merged
            WHERE CAST(substr(qid, 2) AS INT) % 11 = 3
              AND qid NOT IN (SELECT qid FROM victims)),
        ecomps AS (
            SELECT qid, j,
                   CAST(('0x' || substr(md5(j || ':' || tok), 1, 8))
                        AS BIGINT) / 2147483648.0 - 1.0 AS c
            FROM etoks, (SELECT unnest(range(0, 4)) AS j) dims
            WHERE tok <> ''),
        eagg AS (
            SELECT qid,
                   max(CASE WHEN j = 0 THEN m END) AS d0,
                   max(CASE WHEN j = 1 THEN m END) AS d1,
                   max(CASE WHEN j = 2 THEN m END) AS d2,
                   max(CASE WHEN j = 3 THEN m END) AS d3
            FROM (SELECT qid, j, round(sum(c) / count(*), 6) AS m
                  FROM ecomps GROUP BY qid, j)
            GROUP BY qid)
        SELECT m.qid, m.label, m.node_type, m.lat, m.lon, m.canonical_id,
               coalesce(ps.props_str, '') AS props_str,
               CAST(coalesce(d.deg, 0) AS BIGINT) AS deg,
               CASE WHEN CAST(substr(m.qid, 2) AS INT) % 11 = 3
                    THEN coalesce(e.d0, 0.0) END AS d0,
               CASE WHEN CAST(substr(m.qid, 2) AS INT) % 11 = 3
                    THEN coalesce(e.d1, 0.0) END AS d1,
               CASE WHEN CAST(substr(m.qid, 2) AS INT) % 11 = 3
                    THEN coalesce(e.d2, 0.0) END AS d2,
               CASE WHEN CAST(substr(m.qid, 2) AS INT) % 11 = 3
                    THEN coalesce(e.d3, 0.0) END AS d3
        FROM merged m
        LEFT JOIN (
            SELECT qid, string_agg(pred || '=' || obj, ';'
                ORDER BY pred || '=' || obj) AS props_str
            FROM props GROUP BY qid) ps ON m.qid = ps.qid
        LEFT JOIN deg d ON m.qid = d.qid
        LEFT JOIN eagg e ON m.qid = e.qid
        WHERE m.qid NOT IN (SELECT qid FROM victims)""")


def q_kg_resume_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-resume convergence as a value-checked driver row (S6/A4;
    reference file-cache resume: ingestion/mapillary_ingestion_places.py:
    104-143, Neo4j-constraint idempotent insert: db/db_connection.py:
    48-56). Runs the bucketed resumable writer over the corpus, crashes
    it after 2 committed buckets (lineage rows are the commit points),
    resumes with a fresh writer, and returns the warehouse's final
    triples — which must hash-equal the uninterrupted single-pass
    pipeline (same oracle SQL as ``kg_triples``). The warehouse is a
    throwaway temp dir; ``localCheckpoint`` materializes the result
    before it is removed."""
    import shutil
    import tempfile

    from ..io.tables import ResumableKGWriter

    p = synth_for(sf_dir)
    root = tempfile.mkdtemp(prefix="kg_resume_wh_")
    try:
        w = ResumableKGWriter(spark, p, root, n_buckets=4, run_id="crashy")
        try:
            w.run(fail_after=2)
        except RuntimeError:
            pass  # the simulated mid-run crash
        w2 = ResumableKGWriter(spark, p, root, n_buckets=4, run_id="resume")
        stats = w2.run()
        assert stats["skipped"] == 2, stats  # resume must skip committed
        return (w2.triples()
                .select("conv_id", "turn_idx", "subj", "pred", "obj",
                        "obj_type")
                .localCheckpoint())
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_csv_manual_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/J8/A2/W2: CSV (Google-Form) source -> Manual rows with
    monotonically assigned mid continuing from MAX(mid) of the
    pre-existing Manual set (the reference's get_last_mid + counter,
    csv_reader.py:41-66), equi-joined to KG nodes on category==label
    (the instance_of edge creation, csv_reader.py:89-96). Id assignment
    is the scale-safe range-partitioned form (operators/ids.py), not a
    single-reducer global window."""
    from ..operators.ids import assign_global_ids
    from ..synth.generator import ensure_manual_csv

    p = synth_for(sf_dir)
    csv_path = ensure_manual_csv(p)
    prev = spark.read.csv(f"{p}/manual_prev.csv", header=True)
    mx = prev.agg(F.max(F.col("mid").cast("long")).alias("mx"))
    manual = (spark.read.csv(csv_path, header=True)
              .select("title", "category"))
    numbered = assign_global_ids(manual, ["title"], out="_rid", n_parts=4)
    manual = (numbered.crossJoin(F.broadcast(mx))
              .select((F.col("_rid") + F.col("mx")).cast("long")
                      .alias("mid"), "title", "category"))
    nodes = kg_artifacts(spark, sf_dir)["nodes"]
    return (manual.join(F.broadcast(nodes),
                        manual.category == nodes.label, "inner")
            .select("mid", "title", "category", "qid",
                    F.lit("instance_of").alias("pred"))
            .orderBy("mid", "qid"))


def _sql_csv_manual(p: str) -> str:
    return _wrap(p, f"""
        SELECT m.mid, m.title, m.category, n.qid,
               'instance_of' AS pred
        FROM (SELECT CAST((SELECT max(mid) FROM read_csv_auto(
                          '{p}/manual_prev.csv', header = true))
                      + row_number() OVER (ORDER BY title)
                          AS BIGINT) AS mid,
                     title, category
              FROM read_csv_auto('{p}/manual.csv', header = true)) m
        JOIN nodes n ON m.category = n.label
        ORDER BY m.mid, n.qid""")


# --- registry ---------------------------------------------------------------


def kg_queries() -> dict:
    return {
        "kg_mentions": q_kg_mentions,
        "kg_triples": q_kg_triples,
        "kg_nodes": q_kg_nodes,
        "kg_edges": q_kg_edges,
        "kg_turn_order": q_kg_turn_order,
        "kg_pred_counts": q_kg_pred_counts,
        "kg_mention_counts_salted": q_kg_mention_counts_salted,
        "node_upsert": q_node_upsert,
        "kg_resume_triples": q_kg_resume_triples,
        "csv_manual_ingest": q_csv_manual_ingest,
    }


def kg_oracle_sql(sf: float = 0.01) -> dict:
    from ..synth.generator import synth_dir
    p = synth_dir(sf)
    return {
        "kg_mentions": _wrap(p, """SELECT conv_id, turn_idx, mention_id,
            surface, norm_surface, "start", "end" FROM mentions"""),
        "kg_triples": _wrap(
            p, "SELECT conv_id, turn_idx, subj, pred, obj, obj_type "
               "FROM triples"),
        "kg_nodes": _wrap(
            p, """SELECT n.qid, n.label, n.node_type, n.lat, n.lon,
                         n.canonical_id, coalesce(ps.props_str, '')
                             AS props_str,
                         n.canonical_id AS canonical_id_twostar
                  FROM nodes n LEFT JOIN (
                      SELECT qid, string_agg(pred || '=' || obj, ';'
                          ORDER BY pred || '=' || obj) AS props_str
                      FROM props GROUP BY qid) ps ON n.qid = ps.qid"""),
        "kg_edges": _wrap(
            p, """SELECT e.src, e.pred, e.dst,
                         e.pred AS label_en,
                         coalesce(pl.pred_fr, e.pred) AS label_fr,
                         coalesce(pl.pred_pt, e.pred) AS label_pt,
                         coalesce(pl.pred_es, e.pred) AS label_es
                  FROM edges e LEFT JOIN (
                      SELECT DISTINCT pred, pred_fr, pred_pt, pred_es
                      FROM pred_dim) pl ON e.pred = pl.pred"""),
        "kg_turn_order": f"""
            SELECT conv_id, turn_idx,
                   row_number() OVER (PARTITION BY conv_id
                       ORDER BY turn_idx) AS turn_seq,
                   md5(coalesce(text, '')) AS text_md5
            FROM read_parquet('{p}/transcripts.parquet')""",
        "kg_pred_counts": _wrap(
            p, """SELECT * FROM (
                  SELECT 'pred' AS kind, pred AS name, count(*) AS n
                  FROM triples GROUP BY pred
                  UNION ALL
                  SELECT 'hot_entity' AS kind, name, n FROM (
                      SELECT w.qid AS name, count(*) AS n
                      FROM mentions m JOIN winners w
                        ON m.norm_surface = w.norm_alias
                      GROUP BY w.qid ORDER BY n DESC, name ASC LIMIT 20)
                  UNION ALL
                  SELECT 'category' AS kind, n2.label AS name, count(*) AS n
                  FROM edges e JOIN nodes n2 ON e.dst = n2.qid
                  WHERE e.pred = 'instance_of'
                  GROUP BY n2.label)
                  ORDER BY kind, name"""),
        "kg_mention_counts_salted": _wrap(
            p, "SELECT norm_surface, count(*) AS n_mentions FROM mentions "
               "GROUP BY norm_surface"),
        "node_upsert": _sql_node_upsert(p),
        # crash+resume must converge to the uninterrupted pipeline's
        # exact triple set — the oracle IS the kg_triples oracle
        "kg_resume_triples": _wrap(
            p, "SELECT conv_id, turn_idx, subj, pred, obj, obj_type "
               "FROM triples"),
        "csv_manual_ingest": _sql_csv_manual(p),
    }
