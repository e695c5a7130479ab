"""Fulltext search scoring (T3) — tf-idf over an exploded term index.

The reference delegated fulltext to a Neo4j/Lucene index
(db/db_search.py:25-50,152-175). The distributed re-expression builds the
inverted index as a DataFrame (term -> doc postings with tf), weights by
idf = ln(1 + N/df), scores a query as sum(tf * idf) over matched terms,
and top-k's with the usual two-key sort. At corpus scale the postings
table is partitioned by term — queries touch only matching-term
partitions (the moral equivalent of an index seek).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def term_postings(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, tf) postings from whitespace-lowered tokens."""
    toks = (docs.select(id_col,
                        F.explode(F.split(F.trim(F.lower(F.coalesce(
                            F.col(text_col), F.lit("")))), r"\s+"))
                        .alias("term"))
            .filter(F.col("term") != ""))
    return toks.groupBy("term", id_col).agg(F.count("*").alias("tf"))


def build_fulltext_index(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> dict:
    """Materialize the inverted index ONCE: postings + per-term df +
    corpus size, localCheckpoint-ed (the in-process stand-in for the
    term-partitioned postings table a 100 TB deployment would persist).
    Memoized on the SparkSession by ``memo.dim_memo``, keyed on the plan
    AND the source files, so a documents table rewritten in place gets a
    fresh index."""
    from .memo import df_key, dim_memo

    def _build():
        postings = term_postings(docs, text_col, id_col).localCheckpoint()
        df_counts = (postings.groupBy("term")
                     .agg(F.countDistinct(id_col).alias("df"))
                     .localCheckpoint())
        return {"postings": postings, "df": df_counts,
                "n_docs": docs.count(), "id_col": id_col}

    return dim_memo(docs.sparkSession, "_kg_fulltext_index_memo",
                    (df_key(docs), text_col, id_col), _build)


def fulltext_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
                  text_col: str = "text", id_col: str = "doc_id",
                  index: dict | None = None) -> DataFrame:
    if index is None:
        index = build_fulltext_index(docs, text_col, id_col)
    n_docs = index["n_docs"]
    postings = index["postings"]
    df_counts = index["df"]
    q = docs.sparkSession.createDataFrame(
        [(t.lower(),) for t in query_terms], ["term"]).distinct()
    # df restricted to query terms BEFORE the broadcast: the full df table
    # is vocabulary-sized (millions of terms at corpus scale) and must
    # never ship whole; q-joined it is |query_terms| rows.
    dfq = df_counts.join(F.broadcast(q), "term")
    scored = (postings
              .join(F.broadcast(dfq), "term")
              .withColumn("w", F.col("tf")
                          * F.log(F.lit(1.0) + F.lit(float(n_docs))
                                  / F.col("df")))
              .groupBy(id_col)
              .agg(F.round(F.sum("w"), 6).alias("score"),
                   F.count("*").alias("n_terms_hit")))
    return (scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))


def fulltext_sql(query_terms: list[str], k: int = 10) -> str:
    """DuckDB oracle over the ``documents`` view."""
    terms = ", ".join(f"('{t.lower()}')" for t in query_terms)
    return rf"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(lower(coalesce(text,
        ''))), '\s+')) AS term
    FROM documents),
postings AS (SELECT term, doc_id, count(*) AS tf
             FROM toks WHERE term <> '' GROUP BY term, doc_id),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df
        FROM postings GROUP BY term),
q(term) AS (VALUES {terms}),
scored AS (
    SELECT p.doc_id,
           round(sum(p.tf * ln(1.0 + (SELECT count(*) FROM documents)
                               / d.df)), 6) AS score,
           count(*) AS n_terms_hit
    FROM postings p JOIN q USING (term) JOIN dfs d USING (term)
    GROUP BY p.doc_id)
SELECT doc_id, score, n_terms_hit FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""
