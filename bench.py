#!/usr/bin/env python
"""Legacy one-line bench: KG-construction throughput at two parallelism levels.

Prints ONE final JSON line:
  {"metric": "kg_pipeline_wall", "value": <sec at local[CPUS]>,
   "unit": "sec", "queries": {...per-query sec...}, "sf": <sf>,
   "triples_per_sec": ..., "scaling": {...this run's N vs 4N pair...}}

The gated, per-layer numbers come from ``python3 perfbench/run.py``; this
script keeps the one-line JSON contract. Each level runs the same
job on the same input in its OWN subprocess (one JVM per "cluster size",
the spark-submit analogue): local[CPUS] for the headline, then
local[N] and local[4N] for the scaling pair; efficiency =
(tput_4N / tput_N) / 4. Nothing under BENCH/ is read or written; the
files there are history.

Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata directory),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     BENCH_SF_MULT (default 30: testdata sf0.1 -> synthetic sf3.0),
     BENCH_SCALE_N (default 2: the pair is local[2] vs local[8]).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

STAGES = ("extract_mentions", "link_and_triples", "nodes_edges")


def noop_write(df) -> None:
    """Force full materialization without sink IO skewing the measure."""
    df.write.format("noop").mode("overwrite").save()


def run_pipeline(spark, synth_path: str) -> dict:
    """Run the flagship KG build end-to-end; per-stage wall seconds.

    Single-pass plan, as production would run it: ``pipeline.build_kg``
    with every fan-out persisted, so the extraction scan (mapInArrow
    over transcripts) executes ONCE — statements feed the mentions/linking
    outputs AND the triple builder; triples feed nodes AND edges. Every
    extra pass over the fact table is a fixed cost a cluster-scale job
    would not pay, and it poisons the N->4N efficiency measurement.
    ``persist`` is lazy: the three timed sink groups below run the jobs."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation, functions as F

    from memex_kg_spark import pipeline

    out: dict = {}
    t0 = time.time()
    kg = pipeline.build_kg(spark, synth_path, keep=lambda df: df.persist())
    noop_write(kg["mentions"])  # one chain: statements AND mentions
    out["extract_mentions"] = round(time.time() - t0, 3)

    # linked-mentions write overlaps the (heavier) triple build: both read
    # only cached inputs, and concurrent jobs let Spark fill the scheduling
    # gaps (AQE re-plan, broadcast build) of one job with tasks of the
    # other — exactly what a production driver submitting independent
    # table writes does. Fixed driver-side latency otherwise serializes
    # and caps N->4N efficiency. The triple count rides the triples write.
    t0 = time.time()
    n_obs = Observation("n_triples")
    triples = kg["triples"].observe(n_obs, F.count(F.lit(1)).alias("n"))
    with ThreadPoolExecutor(2) as ex:
        list(ex.map(noop_write, (kg["linked_mentions"], triples)))
    out["link_and_triples"] = round(time.time() - t0, 3)
    out["n_triples"] = n_obs.get["n"]

    t0 = time.time()
    with ThreadPoolExecutor(2) as ex:  # independent sinks, overlapped
        list(ex.map(noop_write, (kg["nodes"], kg["edges"])))
    out["nodes_edges"] = round(time.time() - t0, 3)
    for k in ("statements", "mentions", "triples", "nodes"):
        kg[k].unpersist()

    out["pipeline_total"] = round(sum(out[k] for k in STAGES), 3)
    return out


def run_aux_queries(spark, sf_dir: str) -> dict:
    """Representative operator queries over the driver testdata at sf."""
    import __spark_entry__ as mod

    names = ["pricing_summary", "broadcast_dim_join", "window_order_rank",
             "topk_per_group", "explode_membership_join", "geo_topk"]
    qs = mod.queries()
    out = {}
    for n in names:
        if n not in qs:
            continue
        t0 = time.time()
        noop_write(qs[n](spark, sf_dir))
        out[n] = round(time.time() - t0, 3)
    return out


# ---------------------------------------------------------------------------
# subprocess stages
# ---------------------------------------------------------------------------


def stage_gen(bench_sf: float, cpus: int) -> None:
    from memex_kg_spark.session import get_spark
    from memex_kg_spark.synth.spark_gen import ensure_synth_spark
    spark = get_spark(f"memex-kg-bench-{cpus}", cpus,
                      shuffle_partitions=max(32, 2 * cpus))
    print("SYNTH_PATH=" + ensure_synth_spark(spark, bench_sf))
    spark.stop()


_CAL_BUFS: list = []


def _calibrate() -> float:
    """Host-noise probe: seconds for a fixed memory-bandwidth-bound sweep
    (copy + reduce over a 128 MB buffer, 4 threads). A shared host can
    show multi-minute phases where aggregate memory bandwidth drops
    several-fold; Spark walls then inflate at EVERY core count while a
    register-only CPU probe still reads clean, so the probe is
    bandwidth-bound and multi-threaded to see what Spark sees."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    def sweep(b):
        for _ in range(10):
            b.sum()
            b = b * 1.0000001  # forces a full write pass

    if not _CAL_BUFS:
        # allocate once, then one untimed sweep: the first sweep in a
        # process pays page-fault costs ~10-40x the steady state
        _CAL_BUFS.extend(np.ones(4_000_000) for _ in range(4))
        with ThreadPoolExecutor(4) as ex:
            list(ex.map(sweep, _CAL_BUFS))
    t0 = time.perf_counter()
    with ThreadPoolExecutor(4) as ex:  # numpy releases the GIL here
        list(ex.map(sweep, _CAL_BUFS))
    return time.perf_counter() - t0


def stage_run(cores: int, synth_path: str, sf_dir: str,
              with_aux: bool) -> None:
    """One JVM per cluster size; the reported figure is the MIN over 3
    in-JVM runs (fewer once 600 s have passed). Run 0 doubles as warm-up
    (JVM JIT, Python-worker spawn, broadcast builds — fixed costs a
    long-running 100 TB job amortizes away). Min, not mean: host noise
    inflates — never deflates — wall time.

    The ``_calibrate`` probe is recorded, never acted on: ``cal_s`` holds
    the probe seconds read just before each run, ``cal_inrun_max_s`` the
    largest reading a 5 s watcher took during any run."""
    from memex_kg_spark.session import get_spark
    t_start = time.time()
    # Shuffle partitions are a JOB property, not a cluster property:
    # max(32, 2*cores) gives both pair levels (2, 8) the same 32
    # partitions, >=4 task waves at the high level, so one straggler
    # costs ~1/32 of a stage instead of capping strong scaling 1:1.
    spark = get_spark(f"memex-kg-bench-{cores}", cores,
                      shuffle_partitions=max(32, 2 * cores))
    spark.sparkContext.setLogLevel("ERROR")
    best: dict = {}
    totals, cals, inrun = [], [], []
    for _ in range(3):
        if best and time.time() - t_start > 600:
            break  # keep the bench bounded on a noisy host
        cals.append(round(_calibrate(), 4))
        stop = threading.Event()

        def watch():
            while not stop.wait(5.0):
                inrun.append(_calibrate())

        watcher = threading.Thread(target=watch, daemon=True)
        watcher.start()
        stages = run_pipeline(spark, synth_path)
        stop.set()
        watcher.join()
        totals.append(stages["pipeline_total"])
        if not best or stages["pipeline_total"] < best["pipeline_total"]:
            best = stages
    best.update(all_runs=totals, cal_s=cals,
                cal_inrun_max_s=round(max(inrun), 4) if inrun else None)
    if with_aux:
        best["_aux"] = run_aux_queries(spark, sf_dir)
    print("STAGES_JSON=" + json.dumps(best))
    spark.stop()


def _sub(args: list[str]) -> str:
    r = subprocess.run([sys.executable, os.path.abspath(__file__)] + args,
                       capture_output=True, text=True, cwd=REPO)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
        raise RuntimeError(f"bench subprocess failed: {args}")
    return r.stdout


def _tagged(out: str, tag: str) -> str:
    return [ln for ln in out.splitlines()
            if ln.startswith(tag)][-1][len(tag):]


def main() -> None:
    """Headline local[SPARK_GRAFT_CPUS] run (plus aux queries), then this
    run's local[N] vs local[4N] pair, N=BENCH_SCALE_N. The pair stays
    small on purpose: every Arrow UDF stage runs cores x Python workers
    IN ADDITION to the JVM task threads, so a level near the host's vCPU
    count measures oversubscription, not scaling. A level equal to the
    headline's reuses the headline measurement."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    mult = float(os.environ.get("BENCH_SF_MULT", "30"))
    lo = int(os.environ.get("BENCH_SCALE_N", "2"))
    hi = 4 * lo

    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    sf = float(m.group(1)) if m else 0.1
    bench_sf = round(sf * mult, 6)

    synth_path = _tagged(_sub(["--stage", "gen", "--sf", str(bench_sf),
                               "--cores", str(cpus)]), "SYNTH_PATH=")

    def measure(cores: int, with_aux: bool = False) -> dict:
        out = _sub(["--stage", "run", "--cores", str(cores),
                    "--synth", synth_path, "--sf-dir", sf_dir]
                   + (["--aux"] if with_aux else []))
        return json.loads(_tagged(out, "STAGES_JSON="))

    results = {cpus: measure(cpus, with_aux=True)}
    for cores in (lo, hi):
        if cores not in results:
            results[cores] = measure(cores)

    aux = results[cpus].pop("_aux")
    n_triples = results[cpus]["n_triples"]
    tput = {c: round(n_triples / r["pipeline_total"], 1)
            for c, r in results.items()}
    queries = {f"kg_{k}": results[cpus][k]
               for k in STAGES + ("pipeline_total",)}
    queries.update(aux)
    line = {
        "metric": "kg_pipeline_wall",
        "value": results[cpus]["pipeline_total"],
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "bench_corpus_sf": bench_sf,
        "n_triples": n_triples,
        "cpus": cpus,
        "triples_per_sec": tput[cpus],
        "scaling": {
            "cores_lo": lo, "cores_hi": hi,
            "wall_lo_sec": results[lo]["pipeline_total"],
            "wall_hi_sec": results[hi]["pipeline_total"],
            "tput_lo": tput[lo], "tput_hi": tput[hi],
            "efficiency": round((tput[hi] / tput[lo]) / (hi / lo), 3),
            "cal_inrun_max_s_lo": results[lo]["cal_inrun_max_s"],
            "cal_inrun_max_s_hi": results[hi]["cal_inrun_max_s"],
        },
    }
    # per-run walls and probe readings on their own (NOT final) line
    print("BENCH_FULL_JSON=" + json.dumps({**line, "levels": results}),
          flush=True)
    print(compact_bench_line(line))


FINAL_KEYS = ("metric", "value", "unit", "queries", "sf", "bench_corpus_sf",
              "n_triples", "cpus", "triples_per_sec", "scaling")


def compact_bench_line(line: dict, cap: int = 1800) -> str:
    """The caller captures only the last ~2000 bytes of stdout and
    json.loads the FINAL line (BENCH_r02.json recorded parsed=null when
    the line outgrew that buffer). Keep only the contract keys; past
    ``cap`` bytes drop ``scaling``, then truncate the per-query map."""
    compact = {k: line.get(k) for k in FINAL_KEYS}
    compact["queries"] = dict(compact["queries"] or {})
    js = json.dumps(compact)
    if len(js) > cap:
        compact.pop("scaling")
        js = json.dumps(compact)
    while len(js) > cap and compact["queries"]:
        compact["queries"].pop(next(iter(compact["queries"])))
        js = json.dumps(compact)
    return js


if __name__ == "__main__":
    if "--stage" in sys.argv:
        import argparse
        ap = argparse.ArgumentParser()
        ap.add_argument("--stage", required=True, choices=("gen", "run"))
        ap.add_argument("--sf", type=float, default=0.1)
        ap.add_argument("--cores", type=int, default=8)
        ap.add_argument("--synth", default="")
        ap.add_argument("--sf-dir", default="")
        ap.add_argument("--aux", action="store_true")
        a = ap.parse_args()
        if a.stage == "gen":
            stage_gen(a.sf, a.cores)
        else:
            stage_run(a.cores, a.synth, a.sf_dir, a.aux)
    else:
        main()
