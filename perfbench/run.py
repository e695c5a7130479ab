"""KG-build benchmark: seeded workloads, oracle-checked, with a traced
per-layer breakdown.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. This process generates the seeded inputs,
computes the DuckDB oracle, starts ``driver.py`` as the one Spark driver
process, checks its outputs against the oracle, and prints every metric
by name and unit; the last line of stdout is one JSON object. It never
starts a JVM itself. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = ".perfbench"  # under the checkout root; inputs, logs, scratch
DEADLINE_S = 170  # one workload's run ends within this, or fails

# workload -> default input size (flagship and resume_append: triples;
# hot_claims: turns)
SIZES = {"flagship": 45_000, "hot_claims": 3000, "resume_append": 30_000}

# name -> (unit, better); end-to-end metrics come from untraced runs
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "triple_precision": ("ratio", "higher"),
    "triple_recall": ("ratio", "higher"),
}
# printed, not in the result line: on a VM of a shared host these move
# with the CPU time the hypervisor gives to other tenants (README); the
# traced run reports triples_per_s as build.triples_per_s
PRINTED = {
    "triples_per_s": ("triples/s", "higher"),
    # resume_append only (see README: too slow for the driver)
    "ingest_triples_per_s": ("triples/s", "higher"),
    "refresh_s": ("s", "lower"),
}


def layer_unit(name: str) -> tuple[str, str]:
    """(unit, better) of a per-layer metric, from its name."""
    layer, what = name.split(".", 1)
    if what == "triples_per_s":
        return "triples/s", "higher"
    if what.endswith("_s"):
        return "s", "lower"
    if "bytes" in what:
        return "bytes", "lower"
    if what.endswith("_skew"):
        return "ratio", "lower"
    if what.endswith(("_ratio", "_rate")):
        return "ratio", "higher"
    if layer == "spark" or what in ("jobs", "files_out"):
        return "count", "lower"
    return "count", "higher"


def run_child(job: dict, root: str, log_path: str, deadline: float) -> dict:
    """Start the Spark driver process, wait for it and every process it
    started (the JVM, its Python workers) to end, and return its result."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = os.path.join(job["work"], "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    env["PYTHONHASHSEED"] = "0"  # the same string hashing in every run
    env["PERFBENCH_SPAWN"] = repr(time.monotonic())
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"),
             json.dumps(job)],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=root,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_group(proc)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"driver process failed (rc={rc}):\n{tail}")
    with open(job["result"]) as f:
        return json.load(f)


def _group_alive(pgid: int) -> list[int]:
    """Processes of the group that have not exited (zombies left to a
    parent that does not reap them are gone for this purpose)."""
    alive = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(p))
    return alive


def _reap_group(proc: subprocess.Popen, grace_s: float = 5.0) -> None:
    """Stop the driver process if it still runs, reap it, and wait until
    no process of its group is left; kill what outlives the grace
    period."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + grace_s
    while True:
        proc.poll()
        if not _group_alive(proc.pid):
            return
        if time.monotonic() > deadline:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                return
        time.sleep(0.1)


def check(result: dict, expected: dict, input_dir: str,
          work: str) -> tuple[int, int, float, float, list[str]]:
    """Count attempted and failed runs; precision and recall of the
    verification output against the oracle's triple set."""
    from oracle import precision_recall

    verify = result["verify"]
    runs = result["timed"] + [verify]
    if "traced" in result:
        runs.append(result["traced"]["write"])
    problems: list[str] = []
    failed = 0
    p = r_ = 0.0
    for run in runs:
        bad = []
        if "error" in run:
            bad.append(f"raised: {run['error']}")
        else:
            bad += [f"{key} {run[key]} != oracle {expected[key]}"
                    for key in ("triples", "nodes", "edges")
                    if key in run and run[key] != expected[key]]
            if run is verify:
                p, r_ = precision_recall(input_dir, verify["triples_glob"],
                                         work)
                if p < 1.0 or r_ < 1.0:
                    bad.append(f"triple set: precision {p} recall {r_}")
        failed += bool(bad)
        problems += bad
    return len(runs), failed, p, r_, problems


def end_to_end(workload: str, result: dict, p: float,
               r: float) -> dict[str, float]:
    ok = [t for t in result["timed"] if "error" not in t]
    rate = [t["triples"] / t["wall_s"] for t in ok]
    out = {"setup_s": result["setup_s"],
           "triples_per_s": statistics.median(rate) if rate else 0.0,
           "peak_rss_mb": result["peak_rss_mb"],
           "triple_precision": p, "triple_recall": r}
    if workload == "resume_append":
        out["ingest_triples_per_s"] = statistics.median(
            [t["triples"] / (t["run1_s"] + t["run2_s"]) for t in ok]
        ) if ok else 0.0
        out["refresh_s"] = statistics.median(
            [t["run2_s"] + t["finalize_incr_s"] for t in ok]) if ok else 0.0
    return out


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 size: int, root: str) -> dict:
    from inputs import ensure
    from oracle import counts

    deadline = time.monotonic() + DEADLINE_S
    cache = os.path.join(root, CACHE)
    work = os.path.join(cache, "work", f"{workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    input_dir = ensure(cache, workload, seed, size)
    expected = counts(input_dir, work)
    job = {"workload": workload, "seed": seed, "seconds": seconds,
           "trace": trace, "input_dir": input_dir, "work": work,
           "result": os.path.join(work, "result.json"),
           "spans": os.path.join(cache, f"spans-{workload}-s{seed}.json")}
    result = run_child(job, root, os.path.join(work, "driver.log"), deadline)
    attempted, failed, p, r, problems = check(result, expected, input_dir,
                                              work)
    host = result["host"]
    print(f"# {workload} seed={seed} size={size} k={host['k']} "
          f"nproc={host['nproc']} ram_mb={host['ram_mb']} "
          f"driver_memory_mb={host['driver_memory_mb']} "
          f"pyspark={host['pyspark']} timed_walls_s="
          f"{[round(t.get('wall_s', -1), 3) for t in result['timed']]} "
          f"cpu_steal={[round(t['steal_share'], 3) for t in result['timed']]}")
    for msg in problems:
        print(f"# MISMATCH {msg}")
    if not problems:  # keep a failed run's logs and outputs for a look
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        units = {n: layer_unit(n) for n in result["layers"]}
        values = result["layers"]
        reported = units
    else:
        values = end_to_end(workload, result, p, r)
        units = {**END_TO_END, **PRINTED}
        reported = END_TO_END
    values_with_ratio = {**values, "failed_ratio": failed / attempted}
    for name, v in values_with_ratio.items():
        unit = units.get(name, ("ratio", "lower"))[0]
        print(f"{workload} {name} = {v:.6g} {unit}")
    return {"correct": failed == 0 and p == 1.0 and r == 1.0,
            "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": units[n][0]}
                        for n in reported}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SIZES) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="input size of a single workload (triples, or "
                         "turns for hot_claims); default per workload")
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an error: run_child still stops the driver
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.size and args.workload == "all":
        ap.error("--size is in one workload's unit; name the workload")
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    try:
        import memex_kg_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})",
              file=sys.stderr)
        return 2
    names = sorted(SIZES) if args.workload == "all" else [args.workload]
    results = {w: run_workload(w, args.seed, args.seconds, bool(args.trace),
                               args.size or SIZES[w], root) for w in names}
    out = results[names[0]] if len(names) == 1 else {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{n}": m for w, r in results.items()
                    for n, m in r["metrics"].items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
