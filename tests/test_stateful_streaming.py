"""applyInPandasWithState + watermarked windowed agg: streaming results
must equal their batch twins."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F


def _split_parquet(df, out_dir: str, n_files: int, key: str) -> None:
    """Write df as n_files separate parquet files (one per bucket) so
    maxFilesPerTrigger=1 yields n_files micro-batches."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        (df.filter(F.pmod(F.hash(key), F.lit(n_files)) == i)
         .coalesce(1).write.mode("append").parquet(out_dir))


def test_stateful_counts_equal_batch(spark, sf_dir_smoke, tmp_path):
    from memex_kg_spark.streaming.stateful import conv_turn_counts_stateful
    tr = spark.read.parquet(f"{sf_dir_smoke}/transcripts.parquet")
    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    _split_parquet(tr, in_dir, 3, "turn_idx")

    got = conv_turn_counts_stateful(spark, in_dir, ck,
                                    query_name="t_conv_counts").toPandas()
    want = (tr.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
            .toPandas())
    g = got.sort_values("conv_id").reset_index(drop=True)
    w = want.sort_values("conv_id").reset_index(drop=True)
    assert (g["conv_id"] == w["conv_id"]).all()
    assert (g["n_turns"].astype(int) == w["n_turns"].astype(int)).all()
    shutil.rmtree(in_dir, ignore_errors=True)


def test_windowed_stream_equals_batch(spark, testdata_sf001, tmp_path):
    from memex_kg_spark.streaming.stateful import windowed_event_counts_stream
    ev = spark.read.parquet(f"{testdata_sf001}/events.parquet")
    in_dir, ck = str(tmp_path / "ein"), str(tmp_path / "eck")
    _split_parquet(ev, in_dir, 2, "event_id")

    got = windowed_event_counts_stream(
        spark, in_dir, ck, query_name="t_win_counts").toPandas()
    want = (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("win_start"), "event_type", "n")
            .toPandas())
    key = lambda d: sorted(map(tuple, d.astype(str).values))  # noqa: E731
    # append-mode with availableNow flushes every window whose end is
    # past the final watermark; input is bounded, so all windows except
    # possibly the trailing-edge ones are emitted — require the emitted
    # set to be a subset of batch with >=90% coverage, exact values
    gset, wset = key(got), key(want)
    assert set(gset) <= set(wset)
    assert len(gset) >= 0.9 * len(wset)


def test_stream_conv_counts_removes_its_checkpoint(spark, testdata_sf001,
                                                    tmp_path, monkeypatch):
    """``q_stream_conv_counts`` removes its temp streaming checkpoint once
    the query has drained; its result reads the memory sink, so it still
    holds every turn afterwards."""
    import tempfile

    from memex_kg_spark.queries.kg import synth_for
    from memex_kg_spark.queries.service import q_stream_conv_counts

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    counts = q_stream_conv_counts(spark, testdata_sf001)
    assert list(tmp_path.glob("kg_stream_ck_*")) == []
    n_turns = spark.read.parquet(
        f"{synth_for(testdata_sf001)}/transcripts.parquet").count()
    assert counts.agg(F.sum("n_turns")).first()[0] == n_turns
