"""Spark side of the benchmark: one driver process per invocation.

``run.py`` starts this module as a child process, passing the spawn time
in ``PERFBENCH_SPAWN`` (``time.monotonic()``, which is system-wide on
Linux) and a JSON job on argv. The child sets up the session, runs the
untimed warm-up, runs timed builds for the requested seconds, runs one
untimed verification, optionally runs the traced layer breakdown, and
writes its results as JSON. It never decides correctness: ``run.py``
compares what it wrote with the DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time

from layers import GroupStats, Tracer, read_event_log

T_SPAWN = float(os.environ.get("PERFBENCH_SPAWN", time.monotonic()))
MAX_RECORDS_PER_BATCH = 10_000  # session.get_spark's Arrow batch size
N_BUCKETS = 16  # ResumableKGWriter.LINEAGE_COMPACT_MIN_FILES: compaction fires
# the traced write of every workload: few buckets keep a traced run short;
# the compaction threshold is lowered to match on the writer instance
TRACE_BUCKETS = 4
WARM_BUILDS = 1  # untimed builds between set-up and the timed builds


def host_config() -> dict:
    """k, driver memory and shuffle partitions, all from this host.

    mapInPandas runs one Python worker beside each JVM task thread, so k
    is half the cores. The driver heap is a sixteenth of RAM within
    [1 GB, 8 GB]: the workloads' live set is small. Shuffle partitions
    are 4k (several task waves)."""
    import pyspark
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_mb = int(f.readline().split()[1]) // 1024
    k = max(1, nproc // 2)
    return {"k": k, "nproc": nproc, "ram_mb": ram_mb,
            "driver_memory_mb": min(8192, max(1024, ram_mb // 16)),
            "shuffle_partitions": 4 * k,
            "pyspark": pyspark.__version__}


def start_session(cfg: dict, work: str, input_dir: str,
                  event_log: str | None):
    """``session.get_spark`` with the host's k, plus the harness-only
    settings: scratch dirs inside the checkout, the event log when tracing,
    and a split size that spreads the single transcript file over 2k
    scan tasks."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    size = os.path.getsize(os.path.join(input_dir, "transcripts.parquet"))
    conf = {
        "spark.local.dir": tmp,
        # the heap is committed and touched at start, so peak RSS does
        # not depend on when the JVM chose to grow it
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{cfg['driver_memory_mb']}m -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.files.maxPartitionBytes":
            str(max(64 * 1024, size // (2 * cfg["k"]) + 1)),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["SPARK_DRIVER_MEMORY"] = f"{cfg['driver_memory_mb']}m"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    from memex_kg_spark.session import get_spark
    spark = get_spark(app="perfbench", cores=cfg["k"],
                      shuffle_partitions=cfg["shuffle_partitions"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and its Python workers), sampled from /proc every 0.1 s."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_rss_kb(root: int) -> int:
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * os.sysconf("SC_PAGE_SIZE") // 1024

    def _loop(self):
        while not self._stop.wait(0.1):
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share of time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# -- the build under test ------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _counted(df, sink):
    """Run ``sink`` on ``df`` and return its row count, observed on the
    same job (no extra count job)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation()
    sink(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def build(spark, input_dir: str, triples_path: str | None = None) -> dict:
    """One complete build, transcripts to nodes and edges, as production
    runs it: statements and triples persisted at their fan-out, every
    output materialized (noop sinks, or parquet for the triples of the
    verification build)."""
    from memex_kg_spark import pipeline
    from memex_kg_spark.operators.canonicalize import build_edges, build_nodes
    from memex_kg_spark.operators.extraction import (
        extract_statements, statements_to_mentions)
    from memex_kg_spark.operators.linking import link_mentions

    t0 = time.monotonic()
    d = pipeline.load_synth(spark, input_dir)
    alias, pred = d["alias_dim"], d["pred_dim"]
    st = extract_statements(d["transcripts"]).persist()
    _noop(link_mentions(statements_to_mentions(st, alias), alias))
    tri = pipeline.triples_from_statements(st, alias, pred).persist()
    sink = (_noop if triples_path is None else
            (lambda df: df.write.mode("overwrite").parquet(triples_path)))
    n_triples = _counted(tri, sink)
    nodes = build_nodes(tri, alias).persist()
    n_nodes = _counted(nodes, _noop)
    n_edges = _counted(build_edges(tri, nodes, pred), _noop)
    wall = time.monotonic() - t0
    for df in (st, tri, nodes):
        df.unpersist()
    return {"wall_s": wall, "triples": n_triples, "nodes": n_nodes,
            "edges": n_edges}


def write_path(spark, input_dir: str, out: str, n_buckets: int = N_BUCKETS,
               tracer=None) -> dict:
    """The resumable production write: phase 1 crashes after half the
    buckets and runs a full finalize; phase 2 resumes the rest (lineage
    compaction fires) and runs the incremental finalize."""
    from memex_kg_spark.io.tables import ResumableKGWriter

    shutil.rmtree(out, ignore_errors=True)
    w = ResumableKGWriter(spark, input_dir, out, n_buckets=n_buckets,
                          run_id="perfbench")
    w.LINEAGE_COMPACT_MIN_FILES = min(n_buckets, w.LINEAGE_COMPACT_MIN_FILES)
    if tracer is not None:
        for attr, name in (("process_bucket", "writer.bucket"),
                           ("_commit", "writer.commit"),
                           ("committed_buckets", "writer.lineage_read"),
                           ("compact_lineage", "writer.compact")):
            setattr(w, attr, tracer.wrap(name, getattr(w, attr)))
    span = tracer.span if tracer is not None else None

    def timed(name, fn):
        t = time.monotonic()
        if span is None:
            fn()
        else:
            with span(name):
                fn()
        return time.monotonic() - t

    def crash_run():
        try:
            w.run(fail_after=n_buckets // 2)
        except RuntimeError as e:
            if "simulated crash" not in str(e):
                raise

    r1 = timed("writer.run1", crash_run)
    f1 = timed("writer.finalize_full", w.finalize_graph)
    r2 = timed("writer.run2", w.run)
    f2 = timed("writer.finalize_incr", w.finalize_graph)
    from pyspark.sql import functions as F
    committed = w.metrics().agg(F.sum("n_triples")).first()[0]
    return {"run1_s": r1, "finalize_full_s": f1, "run2_s": r2,
            "finalize_incr_s": f2, "wall_s": r1 + f1 + r2 + f2,
            "triples": int(committed),
            "nodes": spark.read.parquet(os.path.join(out, "nodes")).count(),
            "edges": spark.read.parquet(os.path.join(out, "edges")).count()}


# -- traced layer breakdown ------------------------------------------------------


def build_dims(spark, input_dir: str, tracer) -> None:
    """Build the session-memoized dimensions explicitly, so their cost is
    its own span (in an untraced run the warm-up build pays it lazily).
    The gate and claim-props memos are built when their plans are made."""
    from memex_kg_spark import pipeline
    from memex_kg_spark.operators.canonicalize import entity_dim
    from memex_kg_spark.operators.components import canonical_map
    from memex_kg_spark.operators.extraction import (
        extract_statements, statements_to_mentions)
    from memex_kg_spark.operators.linking import alias_winners

    d = pipeline.load_synth(spark, input_dir)
    alias = d["alias_dim"]
    with tracer.span("dims"):
        alias_winners(alias)
        statements_to_mentions(extract_statements(d["transcripts"]), alias)
        pipeline.claim_triples(extract_statements(d["transcripts"]), alias)
        entity_dim(alias)
        with tracer.span("components"):
            canonical_map(alias)


def traced_build(spark, input_dir: str, tracer) -> dict:
    """The build with every layer persisted and counted at its boundary,
    one span (and job group) per layer."""
    from pyspark.sql import functions as F

    from memex_kg_spark import pipeline
    from memex_kg_spark.operators.canonicalize import build_edges, build_nodes
    from memex_kg_spark.operators.extraction import (
        extract_statements, statements_to_mentions)
    from memex_kg_spark.operators.linking import link_mentions

    d = pipeline.load_synth(spark, input_dir)
    alias, pred = d["alias_dim"], d["pred_dim"]
    rows: dict = {}
    cached = []

    def layer(name, df):
        with tracer.span(name):
            df = df.persist()
            rows[name] = df.count()
        cached.append(df)
        return df

    with tracer.span("build.traced"):
        st = layer("extraction", extract_statements(d["transcripts"]))
        m = layer("mentions", statements_to_mentions(st, alias))
        layer("linking", link_mentions(m, alias))
        tri = layer("triples", pipeline.triples_from_statements(
            st, alias, pred))
        nodes = layer("nodes", build_nodes(tri, alias))
        layer("edges", build_edges(tri, nodes, pred))
    with tracer.span("aux"):  # ratios' denominators, not layer work
        rows["transcripts"] = d["transcripts"].count()
        rows["statement_triples"] = pipeline.statement_triples(
            st, alias, pred).count()
        rows["claim_triples"] = pipeline.claim_triples(st, alias).count()
        rows["entity_triples"] = tri.filter(
            F.col("obj_type") == "entity").count()
        from memex_kg_spark.operators.components import (
            alias_component_edges)
        rows["cc_edges"] = alias_component_edges(alias).count()
    for df in cached:
        df.unpersist()
    return rows


def _dir_files(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def layer_metrics(tracer, rows: dict, groups: dict, write: dict,
                  warehouse: str, untraced_median: float,
                  traced_wall: float, session_s: float) -> dict:
    """The per-layer table, named after the engine's modules."""
    g = lambda name: groups.get(name, GroupStats())  # noqa: E731
    ratio = lambda a, b: a / b if b else 0.0  # noqa: E731
    ext, tri = g("extraction"), g("triples")
    buckets = tracer.walls("writer.bucket")
    files, size = _dir_files(warehouse)
    traced = [s for s in {sp["name"] for sp in tracer.spans}
              if s != "aux"]
    whole = [g(n) for n in traced]
    return {
        "session.start_s": session_s,
        "dims.build_s": tracer.wall("dims"),
        "dims.cc_edges": rows["cc_edges"],
        "extraction.wall_s": tracer.wall("extraction"),
        "extraction.cpu_s": ext.cpu_ns / 1e9,
        "extraction.python_s": max(0.0, ext.run_ms / 1e3 - ext.cpu_ns / 1e9),
        "extraction.gc_s": ext.gc_ms / 1e3,
        "extraction.rows_in": rows["transcripts"],
        "extraction.rows_out": rows["extraction"],
        "extraction.batches": ext.batches(MAX_RECORDS_PER_BATCH),
        "mentions.wall_s": tracer.wall("mentions"),
        "mentions.rows_out": rows["mentions"],
        "mentions.gate_ratio": ratio(rows["mentions"],
                                     2 * rows["extraction"]),
        "linking.wall_s": tracer.wall("linking"),
        "linking.rows_out": rows["linking"],
        "linking.link_rate": ratio(rows["linking"], rows["mentions"]),
        "triples.wall_s": tracer.wall("triples"),
        "triples.statement_rows": rows["statement_triples"],
        "triples.claim_rows": rows["claim_triples"],
        "triples.dedup_ratio": ratio(
            rows["triples"],
            rows["statement_triples"] + rows["claim_triples"]),
        "triples.shuffle_bytes": tri.shuffle_write,
        "triples.spill_bytes": tri.spill,
        "triples.task_skew": tri.task_skew(),
        "nodes.wall_s": tracer.wall("nodes"),
        "nodes.rows_out": rows["nodes"],
        "nodes.shuffle_bytes": g("nodes").shuffle_write,
        "edges.wall_s": tracer.wall("edges"),
        "edges.rows_out": rows["edges"],
        "edges.keep_ratio": ratio(rows["edges"], rows["entity_triples"]),
        "components.wall_s": tracer.wall("components"),
        "components.jobs": g("components").jobs,
        "writer.bucket_s": statistics.median(buckets),
        "writer.bucket_skew": max(buckets) / statistics.median(buckets),
        "writer.commit_s": tracer.wall("writer.commit"),
        "writer.lineage_read_s": tracer.wall("writer.lineage_read"),
        "writer.compact_s": tracer.wall("writer.compact"),
        "writer.finalize_full_s": write["finalize_full_s"],
        "writer.finalize_incr_s": write["finalize_incr_s"],
        "writer.files_out": files,
        "writer.bytes_out": size,
        "spark.jobs": sum(s.jobs for s in whole),
        "spark.stages": sum(len(s.stages) for s in whole),
        "spark.tasks": sum(s.tasks for s in whole),
        "spark.exchanges": sum(s.exchanges for s in whole),
        "trace.overhead_s": traced_wall - untraced_median,
        "build.triples_per_s": ratio(rows["triples"], untraced_median),
    }


def main(job: dict) -> dict:
    work, input_dir = job["work"], job["input_dir"]
    cfg = host_config()
    event_log = os.path.join(work, "eventlog") if job["trace"] else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)
    spark = start_session(cfg, work, input_dir, event_log)
    session_s = time.monotonic() - T_SPAWN
    tracer = None
    if job["trace"]:
        tracer = Tracer(spark.sparkContext, f"{job['workload']}-{job['seed']}")
        build_dims(spark, input_dir, tracer)

    writes = job["workload"] == "resume_append"
    warehouse = os.path.join(work, "warehouse-kg")
    if writes:
        unit = lambda: write_path(spark, input_dir, warehouse)  # noqa: E731
        unit()  # warm-up: JVM, Python workers, memoized dimensions
    else:
        unit = lambda: build(spark, input_dir)  # noqa: E731
        # the untimed warm-up doubles as the verification build: its
        # triples go to parquet for the full-set oracle comparison
        path = os.path.join(work, "verify-triples")
        try:
            verify = build(spark, input_dir, triples_path=path)
            verify["triples_glob"] = os.path.join(path, "*.parquet")
        except Exception as e:  # recorded as a failed run, not fatal
            verify = {"error": repr(e)}
    out = {"host": cfg, "session_s": session_s,
           "setup_s": time.monotonic() - T_SPAWN, "timed": []}
    for _ in range(0 if writes else WARM_BUILDS):
        try:
            unit()
        except Exception:  # the timed builds record the error
            pass

    with RssSampler() as rss:
        t_end = time.monotonic() + job["seconds"]
        while not out["timed"] or time.monotonic() < t_end:
            steal0, total0 = cpu_ticks()
            try:
                t = unit()
            except Exception as e:  # recorded as a failed run, not fatal
                t = {"error": repr(e)}
            steal1, total1 = cpu_ticks()
            t["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
            out["timed"].append(t)
    out["peak_rss_mb"] = rss.peak_kb / 1024
    # a write's verification output is the last timed warehouse
    out["verify"] = {"triples_glob": os.path.join(
        warehouse, "triples", "*", "*.parquet")} if writes else verify

    if tracer is not None:
        ok = [t["wall_s"] for t in out["timed"] if "wall_s" in t]
        rows = traced_build(spark, input_dir, tracer)
        traced_wall = tracer.wall("build.traced")
        write = write_path(spark, input_dir, warehouse,
                           N_BUCKETS if writes else TRACE_BUCKETS, tracer)
        if writes:
            traced_wall = write["wall_s"]
        out["traced"] = {"rows": rows, "write": write}
        spark.stop()
        (log,) = [os.path.join(event_log, f) for f in os.listdir(event_log)]
        groups = read_event_log(log)
        tracer.dump(job["spans"])
        out["layers"] = layer_metrics(
            tracer, rows, groups, write, warehouse,
            statistics.median(ok) if ok else 0.0, traced_wall, session_s)
    else:
        spark.stop()
    return out


if __name__ == "__main__":
    job = json.loads(sys.argv[1])
    sys.path.insert(0, os.getcwd())
    result = main(job)
    with open(job["result"], "w") as f:
        json.dump(result, f)
