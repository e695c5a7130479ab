#!/usr/bin/env bash
# Package memex_kg_spark and run the KG-construction job the way the
# north rule specifies: spark-submit --py-files <zip>.  On a cluster,
# swap --master for yarn/k8s; nothing else changes.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${MASTER:-local[8]}"
# match the configuration the published bench numbers were measured
# under: max(32, 2*cores) shuffle partitions (bench.py stage_run)
if [ -z "${SHUFFLE_PARTITIONS:-}" ]; then
  CORES="$(echo "$MASTER" | sed -n 's/^local\[\([0-9]*\)\]$/\1/p')"
  if [ "$MASTER" = 'local[*]' ]; then
    CORES="$(nproc 2>/dev/null || echo '')"  # local[*] = all host cores
  fi
  if [ -n "$CORES" ] && [ $(( CORES * 2 )) -gt 32 ]; then
    SHUFFLE_PARTITIONS=$(( CORES * 2 ))
  else
    SHUFFLE_PARTITIONS=32
  fi
fi
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
    --conf spark.sql.adaptive.enabled=true \
    --py-files "$ZIP" \
    "$REPO/scripts/submit_pipeline.py" \
    --synth "$SYNTH" --out "$OUT" --n-buckets "$BUCKETS" \
    --shuffle-partitions "$SHUFFLE_PARTITIONS"
