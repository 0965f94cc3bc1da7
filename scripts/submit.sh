#!/usr/bin/env bash
# End-to-end launch via spark-submit --py-files (north-rule launch mode).
#
# Packages ebel_spark into a zip, submits the pipeline module to a Spark
# master (default local[32]; on a real cluster pass e.g. --master yarn or
# a spark:// URL as SPARK_MASTER), runs the full parse -> validate ->
# materialize -> link pipeline and prints the metrics JSON.
#
# Usage: scripts/submit.sh [--source synthetic:bench] [--out /tmp/belout] ...
#        (all args are forwarded to ebel_spark.pipeline)
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-32}]}"
ZIP="$(mktemp -d)/ebel_spark.zip"

(cd "$REPO" && python - "$ZIP" <<'EOF'
import os, sys, zipfile
with zipfile.ZipFile(sys.argv[1], "w", zipfile.ZIP_DEFLATED) as z:
    for root, _, files in os.walk("ebel_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                z.write(p, p)
EOF
)

SPARK_SUBMIT="$(python -c 'import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"))')"

# driver memory must be set on the submit command line: once the JVM is up,
# in-app spark.driver.memory / -Xms configs are silently ignored.  Take it
# from get_spark's rule for the same slot count: SPARK_DRIVER_MEM if set,
# else 1.5 GB per slot capped at 75% of physical memory.
DRIVER_MEM="$(cd "$REPO" && python -c '
import sys
from ebel_spark.session import driver_memory_conf
print(driver_memory_conf(int(sys.argv[1]))["spark.driver.memory"])
' "${SPARK_GRAFT_CPUS:-32}")"

exec "$SPARK_SUBMIT" \
    --master "$MASTER" \
    --py-files "$ZIP" \
    --driver-memory "$DRIVER_MEM" \
    --conf "spark.driver.extraJavaOptions=-Dlog4j2.level=error -Xms$DRIVER_MEM" \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.sql.adaptive.skewJoin.enabled=true \
    --conf spark.sql.execution.arrow.pyspark.enabled=true \
    --conf spark.sql.parquet.columnarReaderBatchSize=512 \
    "$REPO/scripts/submit_entry.py" "$@"
