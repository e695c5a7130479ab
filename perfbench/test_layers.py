"""Tests for the benchmark's event-log reader and layer attribution.

    python3 -m pytest perfbench/test_layers.py -q    # from the repo root

``test_traced_run_reports_every_layer`` starts one Spark driver process
on a tiny generated corpus and takes about two minutes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _metrics(run_ms: int, cpu_ns: int, records: int = 0) -> dict:
    return {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 2,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Input Metrics": {"Records Read": records}}


def test_read_event_log_attributes_tasks_to_groups(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    exchange = {"nodeName": "Exchange", "children": []}
    cached = {"nodeName": "InMemoryTableScan", "children": [exchange]}
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan", "children": []}},
        {"Event": sql + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 0,
         "sparkPlanInfo": {"nodeName": "Project", "children": [
             exchange, {"nodeName": "BroadcastExchange",
                        "children": [cached]}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {layers.GROUP: "extraction",
                        "spark.sql.execution.id": "0"}},
        # stage 1 was computed by job 0; job 1 only skips it
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {layers.GROUP: "triples"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
    ]
    tasks = [(0, 100, 40_000_000, 25_000), (0, 300, 60_000_000, 5),
             (1, 50, 50_000_000, 0), (2, 10, 1_000_000, 0),
             (2, 40, 1_000_000, 0), (2, 10, 1_000_000, 0),
             (3, 999, 1, 0)]
    for stage, run_ms, cpu_ns, rec in tasks:
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                       "Stage Attempt ID": 0,
                       "Task Metrics": _metrics(run_ms, cpu_ns, rec)})
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    groups = layers.read_event_log(str(log))

    assert set(groups) == {"extraction", "triples"}  # ungrouped job dropped
    ext, tri = groups["extraction"], groups["triples"]
    assert (ext.jobs, ext.tasks, len(ext.stages)) == (1, 3, 2)
    assert ext.run_ms == 450 and ext.cpu_ns == 150_000_000
    assert ext.gc_ms == 3 and ext.spill == 6 and ext.shuffle_write == 30
    assert ext.records_in == [25_000, 5]
    assert ext.batches(10_000) == 3 + 1
    # final plan only; the exchange under the cached scan is not counted
    assert ext.exchanges == 2 and tri.exchanges == 0
    assert (tri.jobs, tri.tasks) == (1, 3)
    assert tri.task_skew() == 4.0  # busiest stage: 40 ms / median 10 ms


def test_benchmark_json_names_what_run_reports():
    assert {m["name"] for m in SPEC["end_to_end"]} == set(run.END_TO_END)
    for m in SPEC["end_to_end"]:
        assert (m["unit"], m["better"]) == run.END_TO_END[m["name"]]
    for m in SPEC["per_layer"]:
        assert (m["unit"], m["better"]) == run.layer_unit(m["name"])
    assert [w["name"] for w in SPEC["workloads"]] == ["flagship",
                                                      "hot_claims"]


def test_traced_run_reports_every_layer():
    seed, size = 0, 6000  # triples; every traced-write bucket gets rows
    res = run.run_workload("flagship", seed, 0, True, size, ROOT)
    assert res["correct"] and res["failed"] == 0
    got = res["metrics"]
    assert set(got) == {m["name"] for m in SPEC["per_layer"]}
    d = inputs.ensure(os.path.join(ROOT, run.CACHE), "flagship", seed, size)
    expected = oracle.counts(d, os.path.join(ROOT, run.CACHE))
    assert got["extraction.rows_out"]["value"] == expected["statements"]
    assert got["mentions.rows_out"]["value"] == expected["mentions"]
    assert got["nodes.rows_out"]["value"] == expected["nodes"]
    assert got["edges.rows_out"]["value"] == expected["edges"]
    import pyarrow.parquet as pq
    n_turns = pq.ParquetFile(os.path.join(d, "transcripts.parquet")) \
        .metadata.num_rows
    assert got["extraction.rows_in"]["value"] == n_turns
    for name in ("extraction", "mentions", "linking", "triples", "nodes",
                 "edges", "components"):
        assert got[f"{name}.wall_s"]["value"] > 0, name
    assert got["writer.files_out"]["value"] > 0
    assert got["spark.jobs"]["value"] >= got["components.jobs"]["value"] > 0
