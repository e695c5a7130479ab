"""Triple/mention extraction over transcript Arrow batches.

The reference harvested facts one HTTP GET per entity
(ingestion/recursive_hops_ingestion.py:135-164) and decoded claims with a
per-record Python tree walk (:63-104). Here the same fact-emission step is
a single vectorized ``mapInPandas`` stage over transcript batches — the
architecture BASELINE.json mandates (per-turn mention detection + statement
parsing is the stand-in for model-backed NLP extraction, which is genuinely
not SQL-expressible; the pandas body stays fully vectorized, no per-row
Python).

Scale notes:
- stateless per turn -> embarrassingly parallel; no shuffle is introduced
  by this stage (narrow mapInPandas over the scan);
- stable ordering is NOT assumed from file order — downstream consumers
  that need turn order apply the (conv_id, turn_idx) window sort
  (see pipeline.stable_turns);
- Arrow batch size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
  so executor memory stays flat regardless of input size.

A pure-JVM variant (``extract_statements_sql``) with identical semantics is
provided for cross-checks; the pipeline runs the mapInPandas stage. The
JVM twin is not the faster path: on an sf1 corpus (985,364 statements,
local[4], cached input, noop sink) it took 3.65 s against the pandas
stage's 3.34 s.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..synth.vocab import STATEMENT_PATTERN

STATEMENT_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, "
    "subj_surface string, phrase string, obj_surface string, "
    "subj_start int, obj_start int"
)


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized statement extraction for one Arrow batch."""
    base = pdf[["conv_id", "turn_idx"]].reset_index(drop=True)
    # split into sentences; keep per-sentence char offsets
    sent_lists = pdf["text"].fillna("").str.split(". ", regex=False)
    sent_lists.index = base.index
    exploded = base.assign(sentence=sent_lists).explode("sentence")
    exploded = exploded.dropna(subset=["sentence"])
    exploded["piece_len"] = exploded["sentence"].str.len() + 2
    grp = exploded.groupby(level=0)
    exploded = exploded.assign(
        sent_off=grp["piece_len"].cumsum() - exploded["piece_len"],
        sent_idx=grp.cumcount(),
    ).reset_index(drop=True)
    # strip the single trailing '.' the splitter leaves on the last piece
    stripped = exploded["sentence"].str.replace(r"\.$", "", regex=True)
    m = stripped.str.extract(STATEMENT_PATTERN)
    m.columns = ["subj_surface", "phrase", "obj_surface"]
    out = pd.concat(
        [exploded[["conv_id", "turn_idx", "sent_idx", "sent_off"]], m], axis=1)
    out = out.dropna(subset=["subj_surface"])
    out["subj_start"] = out["sent_off"]
    out["obj_start"] = (out["sent_off"] + out["subj_surface"].str.len()
                        + out["phrase"].str.len() + 2)
    out = out.drop(columns=["sent_off"])
    for c in ("turn_idx", "sent_idx", "subj_start", "obj_start"):
        out[c] = out[c].astype("int32")
    return out[["conv_id", "turn_idx", "sent_idx", "subj_surface", "phrase",
                "obj_surface", "subj_start", "obj_start"]]


def _extract_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield _extract_batch(pdf)


def extract_statements(transcripts: DataFrame) -> DataFrame:
    """mapInPandas extraction stage (the mandated Arrow-batched path)."""
    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        _extract_iter, schema=STATEMENT_SCHEMA)


def extract_statements_sql(transcripts: DataFrame) -> DataFrame:
    """Pure-JVM twin of extract_statements (split + posexplode +
    regexp_extract); used by tests to prove the pandas stage matches a
    whole-stage-codegen plan row-for-row."""
    t = transcripts.select(
        "conv_id", "turn_idx",
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")),
                             r"\. ", -1)).alias("sent_idx", "piece"))
    t = t.withColumn("sentence", F.regexp_replace("piece", r"\.$", ""))
    pat = STATEMENT_PATTERN
    t = (t.withColumn("subj_surface", F.regexp_extract("sentence", pat, 1))
          .withColumn("phrase", F.regexp_extract("sentence", pat, 2))
          .withColumn("obj_surface", F.regexp_extract("sentence", pat, 3)))
    # offsets: cumulative (len(piece)+2) of ALL preceding pieces — computed
    # BEFORE dropping non-statement sentences, or offsets shift
    w = (F.expr("sum(length(piece) + 2) over "
                "(partition by conv_id, turn_idx order by sent_idx "
                "rows between unbounded preceding and 1 preceding)"))
    t = (t.withColumn("subj_start", F.coalesce(w, F.lit(0)).cast("int"))
          .filter(F.col("subj_surface") != ""))
    t = t.withColumn(
        "obj_start",
        (F.col("subj_start") + F.length("subj_surface")
         + F.length("phrase") + F.lit(2)).cast("int"))
    return t.select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
                    F.col("sent_idx").cast("int").alias("sent_idx"),
                    "subj_surface", "phrase", "obj_surface",
                    "subj_start", "obj_start")


def statements_to_mentions(statements: DataFrame,
                           alias_dim: DataFrame) -> DataFrame:
    """Dictionary-gated mentions (reference: only labels already in the KG
    link, db/db_connection.py:205-219), stable mention_id per turn.

    The alias gate is a broadcast LEFT SEMI join (dimension is small);
    mention_id ordering is the (start-offset) window within the turn —
    deterministic under any partitioning.
    """
    slots = statements.select(
        "conv_id", "turn_idx",
        F.explode(F.array(
            F.struct(F.col("subj_surface").alias("surface"),
                     F.col("subj_start").alias("start")),
            F.struct(F.col("obj_surface").alias("surface"),
                     F.col("obj_start").alias("start")),
        )).alias("s"),
    ).select("conv_id", "turn_idx", "s.surface", "s.start")
    slots = slots.withColumn("norm_surface", F.lower("surface"))
    from .memo import alias_part
    # the alias gate is the dimension's distinct aliases, a memoized
    # derivative of the dimension, so it costs no job per run
    gate = alias_part(alias_dim, "gate")
    gated = slots.join(F.broadcast(gate), "norm_surface", "left_semi")
    from pyspark.sql import Window as W
    w = W.partitionBy("conv_id", "turn_idx").orderBy("start", "surface")
    return gated.select(
        "conv_id", "turn_idx",
        (F.row_number().over(w) - 1).cast("long").alias("mention_id"),
        "surface", "norm_surface",
        F.col("start").cast("int").alias("start"),
        (F.col("start") + F.length("surface")).cast("int").alias("end"),
    )
