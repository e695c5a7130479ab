"""Remaining SURVEY §2 coverage: n-hop expansion (G1), text-embedding
mean (A5/G7), fulltext scoring (T3), Dominant-Set clustering (G4+G5,
rows-only; euclidean top-k lives in the merged ann_brute_topk row)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import pipeline
from ..operators.embed_text import avg_feature_vector
from ..operators.fulltext import fulltext_sql, fulltext_topk
from ..operators.nhop import n_hop_expand, unrolled_nhop_sql
from .graphq import PPR_SEED, _kg_edges
from .kg import _cte, synth_for

FT_TERMS = ["spark", "join", "table"]


def q_nhop_expand(spark, sf_dir):
    """G1: 2-hop BFS from the hottest entity over the KG edges (the
    distributed form of the reference's recursive harvest)."""
    edges = _kg_edges(spark, sf_dir)
    return (n_hop_expand(edges, [PPR_SEED], hops=2)
            .orderBy("hop", "id"))


def sql_nhop(p: str) -> str:
    return ("WITH RECURSIVE " + _cte(p)
            + ", pedges AS MATERIALIZED (SELECT DISTINCT src AS u, "
              "dst AS v FROM edges), "
            + unrolled_nhop_sql([PPR_SEED], 2)
            + "\nSELECT id, hop FROM nhop ORDER BY hop, id")


def q_text_embed_mean(spark, sf_dir):
    """A5/G7 INTENDED semantics: true mean of md5-derived word vectors
    (the reference's buggy overwrite-accumulator at db/models.py:43 is
    implemented separately and pinned by a pytest, never used here)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = docs.select("doc_id",
                      avg_feature_vector(F.col("text")).alias("e"))
    return emb.select(
        "doc_id",
        *[F.element_at("e", i + 1).alias(f"d{i}") for i in range(4)]
    ).orderBy("doc_id")


SQL_TEXT_EMBED = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(coalesce(text, ''))),
                                     '\s+')) AS tok
    FROM documents),
comps AS (
    SELECT doc_id, j,
           CAST(('0x' || substr(md5(j || ':' || tok), 1, 8)) AS BIGINT)
               / 2147483648.0 - 1.0 AS c
    FROM toks, (SELECT unnest(range(0, 4)) AS j) dims
    WHERE tok <> ''),
agg AS (SELECT doc_id, j, round(sum(c) / count(*), 6) AS m
        FROM comps GROUP BY doc_id, j)
SELECT d.doc_id,
       coalesce(max(CASE WHEN j = 0 THEN m END), 0.0) AS d0,
       coalesce(max(CASE WHEN j = 1 THEN m END), 0.0) AS d1,
       coalesce(max(CASE WHEN j = 2 THEN m END), 0.0) AS d2,
       coalesce(max(CASE WHEN j = 3 THEN m END), 0.0) AS d3
FROM documents d LEFT JOIN agg USING (doc_id)
GROUP BY d.doc_id ORDER BY d.doc_id
"""


def q_fulltext_search(spark, sf_dir):
    """T3: tf-idf fulltext top-10 for a fixed query (reference Lucene
    index emulation, db/db_search.py:152-175)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fulltext_topk(docs, FT_TERMS, k=10)


def q_dominant_set(spark, sf_dir):
    """G4 + G5 in one rows-only row (merged r3): ``part='plain'`` —
    Dominant-Set clusters of the PPR-gated subgraph (driver-side
    replicator dynamics on the collected subgraph, by design);
    ``part='constrained'`` — the G5 constrained variant with per-member
    DS weights (reference DominantSet.py:158-195, seed cluster first).
    Determinism of both paths pinned in pytest."""
    from ..operators.dominant_set import cluster_subgraph, service_clusters
    from ..operators.pagerank import ppr_subgraph
    edges = _kg_edges(spark, sf_dir)
    sub = ppr_subgraph(edges, PPR_SEED, k=8).localCheckpoint()
    clusters = cluster_subgraph(sub.limit(500))
    plain = [("plain", i, m, None)
             for i, c in enumerate(clusters) for m in c]
    constrained = [("constrained", int(cid), str(qid), float(w))
                   for (_rank, cid, qid, w)
                   in service_clusters(sub, PPR_SEED)]
    return (spark.createDataFrame(
        plain + constrained,
        "part string, cluster_id int, qid string, ds_weight double")
        .orderBy("part", "cluster_id", "qid"))


def q_multimodal_features(spark, sf_dir):
    """G8 plumbing: opaque binary media column -> mapInPandas feature
    extraction (deterministic stub codec; real schema/batching/partition
    contract). Oracle checks the SQL-expressible projection (byte length +
    md5 checksum); the byte-histogram output is pinned in pytest."""
    from ..operators.multimodal import attach_binary_payload, extract_features
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = extract_features(attach_binary_payload(docs))
    return (feats.select("doc_id", "n_bytes", "checksum")
            .orderBy("doc_id"))


SQL_MULTIMODAL = """
SELECT doc_id,
       CAST(strlen('IMG0' || coalesce(text, '')) AS BIGINT) AS n_bytes,
       md5('IMG0' || coalesce(text, '')) AS checksum
FROM documents ORDER BY doc_id
"""


def extra_queries() -> dict:
    return {
        "nhop_expand": q_nhop_expand,
        "text_embed_mean": q_text_embed_mean,
        "fulltext_search": q_fulltext_search,
        "dominant_set_clusters": q_dominant_set,  # rows-only
        "multimodal_features": q_multimodal_features,
    }


def extra_oracle_sql() -> dict:
    from ..synth.generator import synth_dir
    p = synth_dir(0.01)
    return {
        "nhop_expand": sql_nhop(p),
        "text_embed_mean": SQL_TEXT_EMBED,
        "fulltext_search": fulltext_sql(FT_TERMS, 10),
        "multimodal_features": SQL_MULTIMODAL,
    }
