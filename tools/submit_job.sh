#!/usr/bin/env bash
# Cluster launch recipe (north rule: spark-submit --py-files at two cluster
# sizes).  Packages ocr_spark/ as a zip shipped to every executor and runs
# the batch job CLI.  On a real cluster replace --master with yarn/k8s; the
# job sizes its partitions from the input and the executor slots.
#
#   tools/submit_job.sh <input> <output> <run-date> [master] [warmup]
#
# Example (the sandbox's two-parallelism-level evidence pair; pass a small
# warmup parquet so the measured wall is steady-state, as on a long-lived
# cluster):
#   tools/submit_job.sh /tmp/pages.parquet /tmp/out_n  2026-08-16 local[8]  /tmp/warm.parquet
#   tools/submit_job.sh /tmp/pages.parquet /tmp/out_4n 2026-08-16 local[32] /tmp/warm.parquet
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
INPUT="${1:?input path}"; OUTPUT="${2:?output path}"; RUN_DATE="${3:?run date}"
MASTER="${4:-local[8]}"; WARMUP="${5:-}"

ZIP="$(mktemp -d)/ocr_spark.zip"
(cd "$REPO" && python -c "
import shutil, sys, zipfile, pathlib
zf = zipfile.ZipFile(sys.argv[1], 'w', zipfile.ZIP_DEFLATED)
for p in pathlib.Path('ocr_spark').rglob('*.py'):
    zf.write(p, p.as_posix())
zf.close()
" "$ZIP")

# driver memory is a JVM-start setting — it cannot be applied from inside
# the session (build_session's in-session value is a no-op under submit),
# so it must be passed here; local[32] needs far more than the 1g default
exec spark-submit \
    --master "$MASTER" \
    --driver-memory "${OCR_SPARK_DRIVER_MEM:-24g}" \
    --py-files "$ZIP" \
    "$REPO/tools/run_job.py" \
    --input "$INPUT" --output "$OUTPUT" --run-date "$RUN_DATE" \
    ${WARMUP:+--warmup "$WARMUP"}
