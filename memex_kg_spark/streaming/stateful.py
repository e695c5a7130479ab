"""Custom stateful + watermarked streaming operators (§2.10/§2.11).

Two Structured Streaming shapes the batch pipeline cannot express:

- ``conv_turn_counts_stateful``: per-conversation running turn counts via
  ``applyInPandasWithState`` — arbitrary per-key state carried ACROSS
  micro-batches (the custom-stateful-operator surface; the reference's
  closest analogue is its driver-side resume bookkeeping,
  ingestion/recursive_hops_ingestion.py cursor cache). State is one
  struct per conv_id; each micro-batch folds its rows into the state and
  emits the updated total, so the LAST emitted row per key equals the
  batch groupBy count (pinned in pytest).

- ``windowed_event_counts_stream``: watermarked tumbling-window counts
  over an event-time column — the late-data-tolerant windowed aggregate
  (watermark bounds state; availableNow drains pending input then stops).

Both run with ``trigger(availableNow=True)`` here (incremental-batch
deployment); a production stream swaps the file source for Kafka/Iceberg
with the identical transformation body.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..synth.vocab import TRANSCRIPT_SCHEMA


def _update_counts(key: Any, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one conv_id into running state."""
    (n,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"conv_id": [key[0]], "n_turns": [n]})


def conv_turn_counts_stateful(spark: SparkSession, transcripts_dir: str,
                              checkpoint_dir: str,
                              query_name: str = "conv_counts") -> DataFrame:
    """Drain ``transcripts_dir`` through the stateful counter; returns the
    final per-conversation totals (last update wins). maxFilesPerTrigger=1
    forces MULTIPLE micro-batches so the cross-batch state path is
    genuinely exercised, not just the single-batch degenerate case."""
    stream = (spark.readStream
              .schema(TRANSCRIPT_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(transcripts_dir))
    counts = (stream.groupBy("conv_id").applyInPandasWithState(
        _update_counts,
        outputStructType="conv_id string, n_turns long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))
    q = (counts.writeStream
         .format("memory").queryName(query_name)
         .outputMode("update")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    updates = spark.table(query_name)
    # update mode emits one row per (key, micro-batch); keep the final
    # running total per key = max (counts only grow)
    return (updates.groupBy("conv_id")
            .agg(F.max("n_turns").alias("n_turns")))


def windowed_event_counts_stream(spark: SparkSession, events_dir: str,
                                 checkpoint_dir: str,
                                 window: str = "1 hour",
                                 watermark: str = "2 hours",
                                 query_name: str = "win_counts"
                                 ) -> DataFrame:
    """Watermarked tumbling-window event counts (append mode: a window
    emits exactly once, after the watermark passes its end — late rows
    beyond the watermark are dropped, bounding state size at scale)."""
    stream = (spark.readStream
              .schema("event_id long, user_id long, event_type string, "
                      "ts timestamp, properties string")
              .option("maxFilesPerTrigger", 1)
              .parquet(events_dir))
    agg = (stream
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"), "event_type")
           .agg(F.count("*").alias("n")))
    q = (agg.select(F.col("w.start").alias("win_start"), "event_type", "n")
         .writeStream
         .format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(query_name)
