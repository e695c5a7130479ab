#!/usr/bin/env bash
# Package memex_kg_spark and run the KG-construction job the way the
# north rule specifies: spark-submit --py-files <zip>.  On a cluster,
# set MASTER to yarn/k8s/spark://...; nothing else changes: the job
# sizes its shuffle partitions from the cluster's default parallelism,
# and SYNTH_DIR may be any Hadoop URI (hdfs://, s3a://, file://).
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${MASTER:-local[8]}"
SYNTH="${1:?usage: spark_submit.sh SYNTH_DIR OUT_DIR [N_BUCKETS]}"
OUT="${2:?usage: spark_submit.sh SYNTH_DIR OUT_DIR [N_BUCKETS]}"
BUCKETS="${3:-8}"
ZIP="$(mktemp -d)/memex_kg_spark.zip"
(cd "$REPO" && python -c "
import zipfile, os
with zipfile.ZipFile('$ZIP', 'w') as z:
    for root, _, files in os.walk('memex_kg_spark'):
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
")
exec spark-submit --master "$MASTER" \
    --py-files "$ZIP" \
    "$REPO/scripts/submit_pipeline.py" \
    --synth "$SYNTH" --out "$OUT" --n-buckets "$BUCKETS"
