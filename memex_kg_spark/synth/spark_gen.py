"""Distributed corpus generation (the bench-scale path).

The per-conversation generator is a pure function of the conversation
index, so generation parallelizes trivially: ``spark.range(n_convs)`` ->
``mapInPandas`` (each batch of conv ids expands to its turn rows) ->
parquet. Output is logically identical to the single-process
``ensure_synth`` at the same sf — only file layout differs — which is the
same property the real pipeline needs at 10^12-turn scale (any executor
can regenerate/verify any shard independently).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .generator import (
    DIM_VERSION,
    SYNTH_ROOT,
    build_alias_dim,
    build_pred_dim,
    ensure_dims,
    gen_conv_batch,
    n_convs_for_sf,
    synth_dir,
)
from .vocab import TRANSCRIPT_SCHEMA


def ensure_synth_spark(spark: SparkSession, sf: float,
                       base_dir: str | None = None,
                       partitions: int | None = None) -> str:
    d = synth_dir(sf, base_dir or SYNTH_ROOT)
    marker = os.path.join(d, "_DONE")
    # the single-process generator's output is logically identical —
    # never clobber it (its single-file layout is what the DuckDB oracle
    # SQL reads)
    if os.path.exists(marker) or os.path.exists(
            os.path.join(d, "_SUCCESS")):
        ensure_dims(d)  # refresh stale dimension files in place
        return d
    n = n_convs_for_sf(sf)
    parts = partitions or max(32, spark.sparkContext.defaultParallelism * 2)

    def gen(batches):
        for pdf in batches:
            yield gen_conv_batch(pdf["id"].tolist())

    (spark.range(n).repartition(parts)
     .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
     .write.mode("overwrite").parquet(os.path.join(d, "transcripts.parquet")))
    build_alias_dim().to_parquet(os.path.join(d, "alias_dim.parquet"),
                                 index=False)
    build_pred_dim().to_parquet(os.path.join(d, "pred_dim.parquet"),
                                index=False)
    with open(os.path.join(d, "_DIM_VERSION"), "w") as f:
        f.write(str(DIM_VERSION))
    with open(marker, "w") as f:
        f.write(f"sf={sf} n_convs={n} distributed=true\n")
    return d
