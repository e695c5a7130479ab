"""spark-submit entry point for the KG-construction pipeline.

The north rule runs the job "via spark-submit --py-files on a
multi-executor cluster".  This is that job main: the driver script is
self-contained, imports `memex_kg_spark` from the --py-files zip (NOT
from a repo checkout on the driver's filesystem), and materializes the
bucketed triples warehouse + nodes/edges through the lineage-aware
resumable writer.

Usage (see scripts/spark_submit.sh for the packaged invocation):

    spark-submit --master local[8] \
        --py-files /tmp/memex_kg_spark.zip \
        scripts/submit_pipeline.py \
        --synth /root/repo/.synth/sf0.001 --out /tmp/kg_out \
        --n-buckets 8 --run-id run-1

On a real cluster only --master changes (yarn / k8s / spark://...);
the job itself is master-agnostic (--synth may be any Hadoop URI).
Re-running after a crash resumes from committed lineage (anti-join of
pending buckets vs lineage rows).
"""
import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--synth", required=True,
                    help="corpus dir, a local path or any Hadoop URI "
                         "(transcripts, alias_dim, pred_dim tables)")
    ap.add_argument("--out", required=True, help="warehouse output root")
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument("--run-id", default="run-1")
    a = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("memex-kg-construct").getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    # two reducers per cluster core, at least 32 (AQE coalesces, never
    # splits), unless the deployment sets it (--conf, spark-defaults.conf)
    parts = int(sc.getConf().get("spark.sql.shuffle.partitions",
                                 str(max(32, 2 * sc.defaultParallelism))))
    spark.conf.set("spark.sql.shuffle.partitions", parts)

    # Import AFTER the session exists so the module resolves from the
    # --py-files zip on executors exactly as it does on the driver.
    from memex_kg_spark.io.tables import ResumableKGWriter

    w = ResumableKGWriter(spark, a.synth, a.out,
                          n_buckets=a.n_buckets, run_id=a.run_id)
    stats = w.run()
    nodes, edges = w.finalize_graph()
    summary = {
        **stats,
        "n_triples": w.triples().count(),
        "n_nodes": nodes.count(),
        "n_edges": edges.count(),
        "shuffle_partitions": parts,
    }
    print("SUBMIT_SUMMARY=" + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
