#!/usr/bin/env bash
# Package + launch the dedup pipeline the way the north rule specifies:
# spark-submit --py-files on a multi-executor cluster. Locally the master
# defaults to local[<cores>], the cores taken from SPARK_GRAFT_CPUS or nproc
# (as engine/session.get_spark sizes them); on a real cluster pass e.g.
#   MASTER=yarn EXTRA="--num-executors 250 --executor-cores 4" ./scripts/submit.sh ...
set -euo pipefail
cd "$(dirname "$0")/.."

INPUT="${1:?usage: submit.sh <input parquet/iceberg> <workdir> [chunks]}"
WORKDIR="${2:?usage: submit.sh <input parquet/iceberg> <workdir> [chunks]}"
CHUNKS="${3:-16}"
MASTER="${MASTER:-local[${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}]}"

rm -f /tmp/cdstore_spark.zip
zip -qr /tmp/cdstore_spark.zip cdstore_spark -x '*__pycache__*'

exec spark-submit \
    --master "$MASTER" \
    --py-files /tmp/cdstore_spark.zip \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.sql.adaptive.skewJoin.enabled=true \
    --conf spark.sql.execution.arrow.pyspark.enabled=true \
    --conf spark.sql.execution.arrow.maxRecordsPerBatch=64 \
    --conf spark.sql.shuffle.partitions="${SHUFFLE_PARTITIONS:-64}" \
    ${EXTRA:-} \
    jobs/run_dedup.py --input "$INPUT" --workdir "$WORKDIR" --chunks "$CHUNKS"
