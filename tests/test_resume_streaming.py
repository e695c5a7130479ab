"""M4 invariants: resume-equals-fresh, idempotent re-run, streaming
equals batch (SURVEY.md §5.3)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from memex_kg_spark.io.tables import ResumableKGWriter
from memex_kg_spark.pipeline import build_triples, load_synth

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj", "obj_type"]


def _triple_set(df):
    return set(map(tuple,
                   df.toPandas()[TRIPLE_COLS].astype(str).values.tolist()))


@pytest.fixture(scope="module")
def batch_triples(spark, sf_dir_smoke):
    d = load_synth(spark, sf_dir_smoke)
    return _triple_set(build_triples(d["transcripts"], d["alias_dim"],
                                     d["pred_dim"])[1])


def test_resume_equals_fresh(spark, sf_dir_smoke, batch_triples):
    tmp = tempfile.mkdtemp(prefix="kgwh-")
    try:
        w = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=6,
                              run_id="crashy")
        with pytest.raises(RuntimeError, match="simulated crash"):
            w.run(fail_after=2)
        assert len(w.committed_buckets()) == 2

        # resume with a new writer (fresh process semantics)
        w2 = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=6,
                               run_id="resume")
        stats = w2.run()
        assert stats["skipped"] == 2 and stats["processed"] == 4

        assert _triple_set(w2.triples()) == batch_triples

        # idempotent re-run: nothing pending, nothing rewritten
        stats3 = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=6,
                                   run_id="noop").run()
        assert stats3["processed"] == 0 and stats3["skipped"] == 6
        assert _triple_set(w2.triples()) == batch_triples

        # lineage metrics: one ok row per bucket (6 total across runs)
        m = w2.metrics().toPandas()
        assert sorted(m["bucket"].unique().tolist()) == list(range(6))
        assert (m["status"] == "ok").all()
        assert (m["wall_ms"] >= 0).all()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_concurrent_run_matches_sequential(spark, sf_dir_smoke,
                                           batch_triples):
    """r4: bucket jobs submitted through a bounded thread pool produce
    the identical graph + lineage as the sequential path (bucket output
    dirs are disjoint; the lineage append is lock-serialized)."""
    tmp = tempfile.mkdtemp(prefix="kgwh-conc-")
    try:
        w = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=6,
                              run_id="conc")
        stats = w.run(concurrency=3)
        assert stats["processed"] == 6 and stats["skipped"] == 0
        assert _triple_set(w.triples()) == batch_triples

        m = w.metrics().toPandas()
        assert sorted(m["bucket"].tolist()) == list(range(6))
        assert (m["status"] == "ok").all()
        # observe-metric exactness: per-bucket rows_in sums to the corpus
        # turn count, per-bucket n_triples sums to the global triple count
        # (conv_ids are hash-disjoint across buckets)
        d = load_synth(spark, sf_dir_smoke)
        assert int(m["rows_in"].sum()) == d["transcripts"].count()
        assert int(m["n_triples"].sum()) == w.triples().count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_writer_reads_a_file_uri_corpus(spark, sf_dir_smoke):
    """A writer over ``file://`` + the corpus dir processes a bucket as
    it does over the plain path: same ``(rows_in, n_triples)``."""
    got = []
    for synth in (sf_dir_smoke, "file://" + sf_dir_smoke):
        tmp = tempfile.mkdtemp(prefix="kgwh-uri-")
        try:
            got.append(ResumableKGWriter(spark, synth, tmp, n_buckets=4,
                                         run_id="uri").process_bucket(0))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    assert got[0] == got[1] and got[0][0] > 0


def test_process_bucket_single_write_job(spark, sf_dir_smoke):
    """r4 verdict #6: lineage metrics ride the write via df.observe —
    no separate input-count job and no re-read-what-was-written job.
    Pin it by counting jobs in a job group on a warm session (dim memos
    built): the bucket's job group must contain no more jobs than the
    write itself plus its broadcast/AQE sub-jobs, and crucially FEWER
    than the old 3-scans-per-bucket shape."""
    tmp = tempfile.mkdtemp(prefix="kgwh-jobs-")
    try:
        w = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=4,
                              run_id="jobs")
        w.process_bucket(0)  # warm: session dim memos, Python workers
        sc = spark.sparkContext
        sc.setJobGroup("pb-probe", "process_bucket job-count probe")
        try:
            rows_in, n_triples = w.process_bucket(1)
        finally:
            sc.setJobGroup(None, None)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup("pb-probe")
        assert jobs, "no jobs recorded in the probe group"
        # Every job must belong to the single write action: AQE stage
        # materializations inherit the action's call site ('parquet at
        # ...'), broadcast builds surface as '$anonfun...' future jobs.
        # The old shape ran two additional ACTIONS per bucket — an input
        # t.count() and a written-re-read .count() — which would appear
        # here as 'count at ...' stages. Pin their absence.
        names = []
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si:
                    names.append(si.name.split("\n")[0])
        assert names and all(
            n.startswith("parquet at") or n.startswith("$anonfun")
            for n in names), names
        assert rows_in > 0 and n_triples > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_finalize_graph_matches_oracle(spark, sf_dir_smoke):
    import pandas as pd
    from memex_kg_spark.oracle import reference_impl as ref

    tmp = tempfile.mkdtemp(prefix="kgwh-")
    try:
        w = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=4,
                              run_id="full")
        w.run()
        nodes, edges = w.finalize_graph()
        tr = pd.read_parquet(f"{sf_dir_smoke}/transcripts.parquet")
        al = pd.read_parquet(f"{sf_dir_smoke}/alias_dim.parquet")
        pr = pd.read_parquet(f"{sf_dir_smoke}/pred_dim.parquet")
        golden = ref.run_all(tr, al, pr)
        got_e = set(map(tuple, edges.toPandas()[["src", "pred", "dst"]]
                        .astype(str).values.tolist()))
        want_e = set(map(tuple, golden["edges"].astype(str)
                         .values.tolist()))
        assert got_e == want_e
        assert nodes.count() == len(golden["nodes"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_equals_batch(spark, sf_dir_smoke, batch_triples):
    from memex_kg_spark.streaming.incremental import (
        run_incremental, streamed_triples)

    tmp = tempfile.mkdtemp(prefix="kgstream-")
    try:
        # split the corpus into several files so multiple micro-batches fire
        src_dir = os.path.join(tmp, "in")
        d = load_synth(spark, sf_dir_smoke)
        d["transcripts"].repartition(8).write.mode("overwrite").parquet(
            src_dir)
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        run_incremental(spark, src_dir, sf_dir_smoke, out, ckpt)
        got = _triple_set(streamed_triples(spark, out))
        assert got == batch_triples

        # drain again with the same checkpoint: no new data -> no new rows
        n_before = streamed_triples(spark, out).count()
        run_incremental(spark, src_dir, sf_dir_smoke, out, ckpt)
        assert streamed_triples(spark, out).count() == n_before

        # crash after the last batch's write, before its checkpoint
        # commit: Spark replays that batch, and the sink must replace
        # the batch's output rather than append a second copy
        last = max(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                   if f.isdigit())
        assert last >= 1  # several micro-batches fired
        os.remove(os.path.join(ckpt, "commits", str(last)))
        crc = os.path.join(ckpt, "commits", f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        run_incremental(spark, src_dir, sf_dir_smoke, out, ckpt)
        assert streamed_triples(spark, out).count() == n_before
        assert _triple_set(streamed_triples(spark, out)) == batch_triples
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_committed_buckets_reraises_transient_errors(spark, sf_dir_smoke):
    """r5 (verdict #4): a transient lineage READ failure must abort the
    resume, not silently return "no buckets committed" and reprocess the
    whole warehouse. Only true absence (fresh run) maps to set()."""
    tmp = tempfile.mkdtemp(prefix="kgwh-")
    try:
        w = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=6,
                              run_id="r1")
        # fresh warehouse: lineage absent -> empty set, no raise
        assert w.committed_buckets() == set()
        with pytest.raises(RuntimeError, match="simulated crash"):
            w.run(fail_after=2)
        assert len(w.committed_buckets()) == 2

        # corrupt the lineage dir so the read fails while the path
        # EXISTS: a stand-in for any transient FS/catalog read error
        lp = w.io.lineage_path
        shutil.rmtree(lp)
        os.makedirs(lp)
        with open(os.path.join(lp, "part-corrupt.parquet"), "w") as f:
            f.write("not a parquet file")
        with pytest.raises(Exception):
            w.committed_buckets()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lineage_compaction_preserves_resume(spark, sf_dir_smoke):
    """r5 (r4 verdict cosmetic #4): after a full run the per-bucket
    lineage files compact into one; committed_buckets is unchanged and
    a re-run still skips every bucket."""
    import glob
    tmp = tempfile.mkdtemp(prefix="kgwh-")
    try:
        w = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=6,
                              run_id="c1")
        w.run()  # default min_files=16 > 6: no compaction yet
        before = w.committed_buckets()
        assert before == set(range(6))
        n_files = len(glob.glob(os.path.join(w.io.lineage_path, "part-*")))
        assert n_files >= 6

        removed = w.compact_lineage(min_files=2)
        assert removed == n_files
        assert len(glob.glob(
            os.path.join(w.io.lineage_path, "part-*"))) == 1
        assert w.committed_buckets() == before

        w2 = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=6,
                              run_id="c2")
        stats = w2.run()
        assert stats["processed"] == 0 and stats["skipped"] == 6
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_empty_buckets_commit_and_run_completes(spark, sf_dir_smoke):
    """A bucket with no conversations writes nothing, returns (0, 0)
    and still commits its lineage row, so run() finishes. AQE prunes
    the observed input count together with the empty stage, and
    ``Observation.get`` used to fail on the missing row."""
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="kgwh-empty-")
    try:
        w = ResumableKGWriter(spark, sf_dir_smoke,
                              os.path.join(tmp, "wide"), n_buckets=64,
                              run_id="wide")
        bucketed = w._bucketed_transcripts()
        assert bucketed.filter(F.col("bucket") == 7).count() == 0
        assert w.process_bucket(7) == (0, 0)

        # a corpus that fills one bucket of four: run() must commit all
        # four and match the batch pipeline on the non-empty one
        src = load_synth(spark, sf_dir_smoke)
        synth = os.path.join(tmp, "synth")
        one = bucketed.filter(F.col("bucket") % 16 == 0).drop("bucket")
        for name, df in (("transcripts", one),
                         ("alias_dim", src["alias_dim"]),
                         ("pred_dim", src["pred_dim"])):
            df.write.parquet(os.path.join(synth, f"{name}.parquet"))
        w4 = ResumableKGWriter(spark, synth, os.path.join(tmp, "narrow"),
                               n_buckets=4, run_id="narrow")
        assert w4.run()["processed"] == 4
        assert w4.committed_buckets() == set(range(4))
        m = w4.metrics().toPandas().set_index("bucket")
        d = load_synth(spark, synth)
        assert int(m["rows_in"].sum()) == d["transcripts"].count()
        assert (m["rows_in"] == 0).sum() == 3
        assert (m.loc[m["rows_in"] == 0, "n_triples"] == 0).all()
        assert _triple_set(w4.triples()) == _triple_set(build_triples(
            d["transcripts"], d["alias_dim"], d["pred_dim"])[1])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lineage_with_only_temporary_is_missing(spark, sf_dir_smoke):
    """A crash inside the very first lineage append leaves a lineage
    directory holding only ``_temporary``. That is no commit at all:
    resume must treat it as a fresh lineage, not raise on every run."""
    tmp = tempfile.mkdtemp(prefix="kgwh-tmp-")
    try:
        w = ResumableKGWriter(spark, sf_dir_smoke, tmp, n_buckets=6,
                              run_id="crashed")
        attempt = os.path.join(w.io.lineage_path, "_temporary", "0",
                               "_temporary", "attempt_0")
        os.makedirs(attempt)
        with open(os.path.join(attempt, "part-00000.parquet"), "w") as f:
            f.write("half-written")
        assert w.committed_buckets() == set()
        w._commit(2, 10, 20, 5)
        assert w.committed_buckets() == {2}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _graph_rows(df, cols):
    return sorted(map(tuple, df.toPandas()[cols].astype(str).values.tolist()))


@pytest.mark.parametrize("mode", ["full", "incremental"])
def test_finalize_crash_between_nodes_and_edges_converges(
        spark, sf_dir_smoke, tmp_path, monkeypatch, mode):
    """A parquet finalize that dies after its nodes write and before its
    edges write records no finalize state, so the replay rebuilds the
    same bucket set: a full finalize re-overwrites both tables, and an
    incremental one finds the appended nodes already present (anti-join)
    and appends only the edges. Either way the graph equals a one-shot
    build over the whole corpus, with no duplicate rows."""
    from pyspark.sql import DataFrameWriter

    from memex_kg_spark.pipeline import build_graph

    root = str(tmp_path / "kg")
    w = ResumableKGWriter(spark, sf_dir_smoke, root, n_buckets=4,
                          run_id=mode)
    if mode == "incremental":
        with pytest.raises(RuntimeError, match="simulated crash"):
            w.run(fail_after=2)
        w.finalize_graph()
    w.run()

    parquet = DataFrameWriter.parquet

    def crash_on_edges(self, path, *args, **kwargs):
        if os.path.basename(path.rstrip("/")) == "edges":
            raise RuntimeError("simulated crash before the edges write")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_edges)
    with pytest.raises(RuntimeError, match="before the edges write"):
        w.finalize_graph()
    assert w.last_finalize["mode"] == mode
    monkeypatch.undo()
    # the crash state: this attempt's nodes landed, its edges did not
    assert os.path.exists(os.path.join(root, "nodes", "_SUCCESS"))
    assert os.path.exists(os.path.join(root, "edges")) == (
        mode == "incremental")

    replay = ResumableKGWriter(spark, sf_dir_smoke, root, n_buckets=4,
                               run_id="replay")
    nodes, edges = replay.finalize_graph()
    assert replay.last_finalize["mode"] == mode
    d = load_synth(spark, sf_dir_smoke)
    _, tri = build_triples(d["transcripts"], d["alias_dim"], d["pred_dim"])
    want_nodes, want_edges = build_graph(tri, d["alias_dim"], d["pred_dim"])
    for got, want in ((nodes, want_nodes), (edges, want_edges)):
        got_rows = _graph_rows(got, want.columns)
        assert len(set(got_rows)) == len(got_rows)
        assert got_rows == _graph_rows(want, want.columns)


def test_kg_resume_triples_raises_when_resume_skips_nothing(
        spark, testdata_sf001, tmp_path, monkeypatch):
    """``q_kg_resume_triples`` checks with a raising check, which
    ``python -O`` keeps, that the resumed writer skipped the 2 committed
    buckets: a resume that reports none skipped fails the query."""
    from memex_kg_spark.queries.kg import q_kg_resume_triples

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(ResumableKGWriter, "run",
                        lambda self, fail_after=None: {"skipped": 0})
    with pytest.raises(RuntimeError, match="skipped 0 committed buckets"):
        q_kg_resume_triples(spark, testdata_sf001)
    assert list(tmp_path.glob("kg_resume_wh_*")) == []
