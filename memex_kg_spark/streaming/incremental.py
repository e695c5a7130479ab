"""Structured Streaming incremental KG ingest.

The reference's 'incremental' story was cursor pagination + file-cache
resume (SURVEY.md §2.10 — no true streaming exists there). Here new
transcript files landing in the input directory flow through the SAME
batch pipeline via ``foreachBatch`` — one code path for batch and
streaming (extraction is stateless per turn, so no watermark state is
needed; a turn is one row and can never split across micro-batches,
which keeps the per-turn dedup exact).

``trigger(availableNow=True)`` drains everything pending then stops —
the incremental-batch deployment mode; a production stream would use a
processingTime trigger against an Iceberg/Kafka source with the same
foreachBatch body. The sink is idempotent per micro-batch: batch ``N``
overwrites its own ``triples/batch_id=N/`` directory, so a batch that
Spark replays after a crash between its write and its checkpoint commit
replaces its first attempt instead of appending a second copy. Together
with the checkpoint that gives exactly-once output per micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import pipeline
from ..synth.vocab import TRANSCRIPT_SCHEMA


def run_incremental(spark: SparkSession, transcripts_dir: str,
                    synth_path: str, out_dir: str,
                    checkpoint_dir: str) -> None:
    """Drain all pending transcript files into the triples table."""
    d = pipeline.load_synth(spark, synth_path)
    alias_dim, pred_dim = d["alias_dim"], d["pred_dim"]

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        _, triples = pipeline.build_triples(batch_df, alias_dim, pred_dim)
        (triples.write.mode("overwrite")
         .parquet(os.path.join(out_dir, "triples", f"batch_id={epoch_id}")))

    stream = (spark.readStream
              .schema(TRANSCRIPT_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(transcripts_dir))
    q = (stream.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def streamed_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return (spark.read.parquet(os.path.join(out_dir, "triples"))
            .drop("batch_id"))
