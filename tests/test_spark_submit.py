"""The north rule's deployment shape: spark-submit --py-files <zip>.

Runs scripts/spark_submit.sh end-to-end in a subprocess from a NEUTRAL
cwd (so `memex_kg_spark` can only resolve from the --py-files zip, not
from the repo checkout), then re-runs it against the same warehouse to
prove lineage-based resume works through the CLI too.

Reference analogue: the reference launches its harvest as a plain
python CLI (`main.py --nation ...`, /root/reference/main.py); here the
launchable unit is a spark-submit job, master-agnostic.
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(out_dir: str) -> dict:
    env = dict(os.environ, MASTER="local[4]")
    p = subprocess.run(
        [os.path.join(REPO, "scripts", "spark_submit.sh"),
         os.path.join(REPO, ".synth", "sf0.001"), out_dir, "4"],
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    line = [ln for ln in p.stdout.splitlines()
            if ln.startswith("SUBMIT_SUMMARY=")][-1]
    return json.loads(line.split("=", 1)[1])


def test_spark_submit_pyfiles_and_resume(tmp_path):
    out = str(tmp_path / "kg_out")
    s1 = _run(out)
    assert s1["processed"] == 4 and s1["skipped"] == 0
    assert s1["n_triples"] > 0 and s1["n_nodes"] > 0 and s1["n_edges"] > 0
    # max(32, 2 * defaultParallelism) at local[4]
    assert s1["shuffle_partitions"] == 32

    # idempotent resume: every bucket already committed in lineage
    s2 = _run(out)
    assert s2["processed"] == 0 and s2["skipped"] == 4
    assert s2["n_triples"] == s1["n_triples"]
    assert s2["n_nodes"] == s1["n_nodes"]
    assert s2["n_edges"] == s1["n_edges"]


if __name__ == "__main__":
    sys.exit(subprocess.call(
        [sys.executable, "-m", "pytest", "-x", "-q", __file__]))
