#!/bin/bash
# Local runner for graft.ScaleProbe (dev tooling, launched like
# run_verify.sh). Usage: tools/run_scaleprobe.sh <baseDir> <bigDir> <factor>
# Optional: SPARK_GRAFT_ONLY to focus, SPARK_GRAFT_XMX (default 64g — the
# 100x staged legs keep checkpoint + shuffle state well past the 8g verify
# bracket).
set -e
BASE=${1:-/root/testdata/sf0.1}
BIG=${2:?big dir required}
FACTOR=${3:?factor required}
exec "$(dirname "$0")/spark_java.sh" -Xmx${SPARK_GRAFT_XMX:-64g} \
  graft.ScaleProbe "$BASE" "$BIG" "$FACTOR"
