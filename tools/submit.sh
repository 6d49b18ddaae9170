#!/usr/bin/env bash
# Package the engine and run a job via spark-submit --py-files (north rule).
#
# Usage: tools/submit.sh [job.py] [spark-submit args...]
# Default job runs the flagship checkpointed pipeline.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
BUILD="$REPO/build"
mkdir -p "$BUILD"
ZIP="$BUILD/lidartree_spark.zip"
(cd "$REPO" && rm -f "$ZIP" && zip -qr "$ZIP" lidartree_spark -x '*__pycache__*')

JOB="${1:-$REPO/tools/job_flagship.py}"
shift || true
exec spark-submit \
  --master "${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-$(nproc)}]}" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.coalescePartitions.minPartitionSize=64k \
  --conf spark.sql.shuffle.partitions="${SPARK_GRAFT_SHUFFLE:-64}" \
  --conf spark.executorEnv.OMP_NUM_THREADS=1 \
  --conf spark.executorEnv.OPENBLAS_NUM_THREADS=1 \
  "$JOB" "$@"
