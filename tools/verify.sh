#!/bin/bash
# Local Verify runner: tools/verify.sh [SF_DIR] [OUT_DIR] [NAME_FILTER] — assumes `sbt compile` is current.
# NAME_FILTER: optional comma-separated query names/prefixes for a fast subset run.
# The classes verified are those of GRAFT_TREE (default: the checkout holding this script);
# the Spark jars come from $SPARK_HOME/jars, else from build.sbt's unmanagedBase.
# Verify's stderr goes to OUT_DIR.log, beside OUT_DIR, so two trees can be checked side by side.
#
# tools/verify.sh --both
#   Round-close mode: full gate at BOTH sf0.01 and sf0.1 (run + DuckDB
#   compare each). The sf0.1 pass is standard, not a one-off — it caught a
#   real cross-engine divergence in round 7 (NULL-vs-empty array_to_string)
#   that no sf0.01 run could see.
set -e
set -o pipefail
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
TREE="$(cd "${GRAFT_TREE:-$HERE/..}" && pwd)"
if [ -n "$SPARK_HOME" ]; then
  JARS="$SPARK_HOME/jars"
else
  JARS="$(sed -n 's/^unmanagedBase *:= *file("\([^"]*\)").*/\1/p' "$HERE/../build.sbt")"
fi
[ -d "$JARS" ] || { echo "verify.sh: no Spark jar directory (set SPARK_HOME)" >&2; exit 2; }
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done

run_one() {
  local SF="$1" OUT="${2%/}" FILTER="$3"
  local LOG="$OUT.log"
  rm -rf "$OUT"
  # no exec: the || fallback must run in this shell to surface the log tail
  java $ADDOPENS -Xmx8g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$TREE/target/scala-2.13/classes:$JARS/*" \
    graft.Verify "$SF" "$OUT" ${FILTER:+"$FILTER"} 2>"$LOG" || { tail -30 "$LOG"; exit 1; }
}

if [ "$1" = "--both" ]; then
  for sf in 0.01 0.1; do
    echo "=== gate @ sf$sf ==="
    run_one "/root/testdata/sf$sf" "/tmp/graft_verify_sf$sf" ""
    python3 "$(dirname "$0")/compare.py" "/root/testdata/sf$sf" "/tmp/graft_verify_sf$sf" | tail -3
  done
  exit 0
fi

run_one "${1:-/root/testdata/sf0.01}" "${2:-/tmp/graft_verify}" "${3:-}"
