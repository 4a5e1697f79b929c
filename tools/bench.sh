#!/bin/bash
# Local Bench runner: tools/bench.sh [TAG] [CPUS] [SF_DIR] [QUERY...] — assumes `sbt compile` is current.
# Mirrors the driver contract: SPARK_GRAFT_SF_DIR + SPARK_GRAFT_CPUS envs, graft.Bench main,
# one JSON line on stdout, full artifact stamped by SPARK_GRAFT_BENCH_TAG into bench_results/
# under the current directory.
# The classes benched are those of GRAFT_TREE (default: the checkout holding this script);
# the Spark jars come from $SPARK_HOME/jars, else from build.sbt's unmanagedBase.
set -e
set -o pipefail
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
TREE="$(cd "${GRAFT_TREE:-$HERE/..}" && pwd)"
TAG="${1:-local}"
CPUS="${2:-32}"
SF="${3:-/root/testdata/sf0.1}"
# the remaining args are the query subset
if [ $# -ge 3 ]; then shift 3; else set --; fi
if [ -n "$SPARK_HOME" ]; then
  JARS="$SPARK_HOME/jars"
else
  JARS="$(sed -n 's/^unmanagedBase *:= *file("\([^"]*\)").*/\1/p' "$HERE/../build.sbt")"
fi
[ -d "$JARS" ] || { echo "bench.sh: no Spark jar directory (set SPARK_HOME)" >&2; exit 2; }
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_BENCH_TAG="$TAG" \
java $ADDOPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$TREE/target/scala-2.13/classes:$JARS/*" \
  graft.Bench "$@"
