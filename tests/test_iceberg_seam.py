"""Iceberg-catalog deployment seam (io/iceberg.py).

The sandbox has no Iceberg jar, so these tests drive the seam with a
recording fake session and assert the exact DDL / DataFrameWriterV2 calls /
MERGE statements a real catalog would receive, plus the writer's routing
(catalog set -> every table op goes through the catalog, no parquet paths).
The parquet backend's behavior is covered by the resume tests; the two
backends are held to one set of table calls by a signature check.
"""

import inspect

import pytest

from memex_kg_spark.io.iceberg import IcebergTableIO
from memex_kg_spark.io.parquet import ParquetTableIO


class FakeResult:
    def __init__(self, rows=None):
        self.rows = rows or []

    def collect(self):
        return self.rows


class FakeWriterV2:
    def __init__(self, table, log):
        self.table, self.log = table, log

    def using(self, fmt):
        self.log.append(("using", self.table, fmt))
        return self

    def append(self):
        self.log.append(("append", self.table))

    def overwritePartitions(self):
        self.log.append(("overwritePartitions", self.table))

    def createOrReplace(self):
        self.log.append(("createOrReplace", self.table))


class FakeDF:
    def __init__(self, fake_spark, label="df"):
        self.s, self.label = fake_spark, label

    def writeTo(self, table):
        return FakeWriterV2(table, self.s.log)

    def createOrReplaceTempView(self, name):
        self.s.views[name] = self.label

    def selectExpr(self, *_):
        return self

    # lineage-read chain used by committed_buckets
    def filter(self, _):
        return self

    def select(self, *_):
        return self

    def distinct(self):
        return self

    def drop(self, *_):
        return self

    def localCheckpoint(self):
        return self

    def collect(self):
        return []


class FakeReader:
    def __init__(self, fake_spark):
        self.s = fake_spark

    def table(self, name):
        self.s.log.append(("read.table", name))
        return FakeDF(self.s, name)

    def parquet(self, path):
        self.s.log.append(("read.parquet", path))
        return FakeDF(self.s, path)


class FakeSpark:
    """Records every sql()/writeTo()/read.table() the seam issues."""

    def __init__(self, tblprops=None):
        self.log = []
        self.views = {}
        self.tblprops = tblprops or {}
        self.read = FakeReader(self)

    def sql(self, q):
        self.log.append(("sql", q))
        if q.startswith("SHOW TBLPROPERTIES"):
            rows = [{"key": k, "value": v} for k, v in self.tblprops.items()]
            return FakeResult(rows)
        return FakeResult()

    def createDataFrame(self, rows, schema):
        self.log.append(("createDataFrame", schema))
        return FakeDF(self, "created")


def sqls(fake):
    return [e[1] for e in fake.log if e[0] == "sql"]


def test_ensure_tables_ddl_and_pin():
    s = FakeSpark()
    io = IcebergTableIO(s, "lake", "kg")
    io.ensure_tables(8)
    qs = sqls(s)
    assert any("CREATE NAMESPACE IF NOT EXISTS lake.kg" in q for q in qs)
    tri = next(q for q in qs if "lake.kg.triples" in q and "CREATE" in q)
    assert "USING iceberg" in tri and "PARTITIONED BY (bucket)" in tri
    assert "'memex_kg.n_buckets'='8'" in tri
    assert any("lake.kg.lineage" in q and "CREATE" in q for q in qs)
    assert any("lake.kg.finalized_buckets" in q for q in qs)


def test_ensure_tables_refuses_mismatched_bucket_count():
    # table already pinned at 8 (CREATE IF NOT EXISTS was a no-op on the
    # real catalog): resuming with 4 must refuse, same as the parquet
    # shim's _KG_META.json guard
    s = FakeSpark(tblprops={"memex_kg.n_buckets": "8"})
    io = IcebergTableIO(s, "lake", "kg")
    with pytest.raises(ValueError, match="n_buckets=8"):
        io.ensure_tables(4)


def test_triples_bucket_goes_through_overwrite_partitions():
    s = FakeSpark()
    io = IcebergTableIO(s, "lake", "kg")
    io.overwrite_triples_bucket(3, FakeDF(s))
    assert ("overwritePartitions", "lake.kg.triples") in s.log


def test_lineage_append_and_graph_replace():
    s = FakeSpark()
    io = IcebergTableIO(s, "lake", "kg")
    io.append_lineage(FakeDF(s))
    assert ("append", "lake.kg.lineage") in s.log
    io.replace_graph(FakeDF(s), FakeDF(s))
    assert ("createOrReplace", "lake.kg.nodes") in s.log
    assert ("createOrReplace", "lake.kg.edges") in s.log


def test_merge_statements():
    s = FakeSpark()
    io = IcebergTableIO(s, "lake", "kg")
    io.merge_nodes(FakeDF(s, "cand_nodes"))
    io.merge_edges(FakeDF(s, "cand_edges"))
    m_nodes = next(q for q in sqls(s) if "MERGE INTO lake.kg.nodes" in q)
    assert "ON t.qid = s.qid" in m_nodes
    assert "WHEN NOT MATCHED THEN INSERT *" in m_nodes
    assert "UPDATE" not in m_nodes  # insert-if-absent only: node rows are
    # dimension-derived, identical regardless of which bucket added them
    m_edges = next(q for q in sqls(s) if "MERGE INTO lake.kg.edges" in q)
    assert "t.src = s.src AND t.pred = s.pred AND t.dst = s.dst" in m_edges
    assert s.views == {"_kg_cand_nodes": "cand_nodes",
                       "_kg_cand_edges": "cand_edges"}


def _public_methods(cls):
    return {name: inspect.signature(fn)
            for name, fn in inspect.getmembers(cls, inspect.isfunction)
            if not name.startswith("_")}


def test_backends_share_one_table_api():
    """The writer calls its backend without knowing which one it holds,
    so both must define the same public methods with the same
    parameters."""
    parquet, iceberg = (_public_methods(ParquetTableIO),
                        _public_methods(IcebergTableIO))
    assert sorted(parquet) == sorted(iceberg)
    for name, sig in parquet.items():
        assert list(sig.parameters) == list(iceberg[name].parameters), name


def test_writer_routes_through_catalog(tmp_path):
    """ResumableKGWriter(catalog=...) must touch the catalog, never the
    parquet paths, for lineage commit / lineage read / triples read."""
    from memex_kg_spark.io.tables import ResumableKGWriter

    fake = FakeSpark()
    w = ResumableKGWriter(fake, synth_path="unused",
                          out_root=str(tmp_path / "kg"),
                          n_buckets=8, catalog="lake")
    assert isinstance(w.io, IcebergTableIO)
    # constructor already issued the DDL
    assert any("CREATE TABLE IF NOT EXISTS lake.kg.triples" in q
               for q in sqls(fake))
    fake.log.clear()
    w._commit(3, 10, 20, 5)
    assert ("append", "lake.kg.lineage") in fake.log
    fake.log.clear()
    w.committed_buckets()
    assert ("read.table", "lake.kg.lineage") in fake.log
    fake.log.clear()
    w.triples()
    assert ("read.table", "lake.kg.triples") in fake.log
    assert not any(op == "read.parquet" for op, *_ in fake.log)


def test_env_var_selects_catalog(tmp_path, monkeypatch):
    from memex_kg_spark.io.tables import ResumableKGWriter

    monkeypatch.setenv("MEMEX_KG_CATALOG", "lake")
    fake = FakeSpark()
    w = ResumableKGWriter(fake, synth_path="unused",
                          out_root=str(tmp_path / "kg"), n_buckets=8)
    assert isinstance(w.io, IcebergTableIO) and w.io.catalog == "lake"
    monkeypatch.delenv("MEMEX_KG_CATALOG")
    # default: parquet backend — no catalog traffic, meta file pinned on disk
    w2 = ResumableKGWriter(fake, synth_path="unused",
                           out_root=str(tmp_path / "kg2"), n_buckets=8)
    assert isinstance(w2.io, ParquetTableIO)
    assert (tmp_path / "kg2" / "_KG_META.json").exists()


def test_first_finalize_replays_replace_after_partial_crash(
        tmp_path, monkeypatch, spark):
    # `spark` (unused directly) keeps an active SparkContext so the
    # F.col(...) expressions finalize_graph builds can be constructed;
    # all table traffic still flows through the recording FakeSpark.
    """Crash-recovery regression: first finalize died between the nodes
    and edges createOrReplace commits (nodes table exists, zero buckets
    recorded finalized). The replay must take the replace branch —
    createOrReplace is idempotent — never MERGE INTO the edges table
    that was never created."""
    from memex_kg_spark.io import tables as tables_mod
    from memex_kg_spark.io.tables import ResumableKGWriter

    # the partial crash state as the writer sees it: the nodes table may
    # exist, but the finalized-buckets table is empty
    fake = FakeSpark()
    w = ResumableKGWriter(fake, synth_path="unused",
                          out_root=str(tmp_path / "kg"),
                          n_buckets=8, catalog="lake")
    monkeypatch.setattr(tables_mod.pipeline, "load_synth",
                        lambda s, p: {"alias_dim": FakeDF(fake, "alias"),
                                      "pred_dim": FakeDF(fake, "pred")})
    monkeypatch.setattr(tables_mod.pipeline, "build_graph",
                        lambda t, a, p: (FakeDF(fake, "cand_nodes"),
                                         FakeDF(fake, "cand_edges")))
    fake.log.clear()
    w.finalize_graph()
    ops = [(op, t) for op, t, *_ in
           [e + ("",) * (3 - len(e)) for e in fake.log]]
    assert ("createOrReplace", "lake.kg.nodes") in ops
    assert ("createOrReplace", "lake.kg.edges") in ops
    assert not any(q.startswith("MERGE INTO") for q in sqls(fake))
