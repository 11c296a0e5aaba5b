#!/bin/bash
# Local replica of the driver's t2 flow, step 1: run graft.Verify directly
# (no sbt startup cost) to dump each query's result parquet + oracle_sql.json.
# Usage: tools/run_verify.sh [sfdir] [outdir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
exec "$(dirname "$0")/spark_java.sh" -Xmx8g graft.Verify "$SF" "$OUT"
