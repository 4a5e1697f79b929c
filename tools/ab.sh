#!/bin/bash
# Alternating same-box A/B of graft.Bench between two compiled checkouts:
#
#   tools/ab.sh <treeA> <treeB> <reps> [QUERY...]
#
# Runs A, B, A, B, ... (<reps> runs per arm, serially) through tools/bench.sh
# with GRAFT_TREE set to the arm's checkout, from inside that checkout, so
# each arm's stamped artifact lands in its own bench_results/ (tags
# ab_A_<n> / ab_B_<n>) and its output in <tree>/bench_results/ab_<arm>_<n>.out.
# Environment: SPARK_GRAFT_SF_DIR (required), SPARK_GRAFT_CPUS (default 32).
# Prints every run's real exit code and exits nonzero if any run failed.
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
if [ $# -lt 3 ]; then
  echo "usage: tools/ab.sh <treeA> <treeB> <reps> [QUERY...]" >&2
  exit 2
fi
A="$(cd "$1" && pwd)" || exit 2
B="$(cd "$2" && pwd)" || exit 2
REPS="$3"
shift 3
[[ "$REPS" =~ ^[1-9][0-9]*$ ]] || { echo "ab.sh: <reps> must be a positive integer (got '$REPS')" >&2; exit 2; }
: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the scale-factor data directory}"
failed=0
run_arm () { # $1 = arm label, $2 = tree, $3 = rep; remaining = queries
  local arm="$1" tree="$2" rep="$3"
  shift 3
  mkdir -p "$tree/bench_results"
  (cd "$tree" && GRAFT_TREE="$tree" "$HERE/bench.sh" "ab_${arm}_$rep" "${SPARK_GRAFT_CPUS:-32}" \
    "$SPARK_GRAFT_SF_DIR" "$@" > "bench_results/ab_${arm}_$rep.out" 2>&1)
  local rc=$?
  echo "[ab] arm=$arm rep=$rep tree=$tree rc=$rc"
  [ "$rc" -eq 0 ] || failed=1
}
for rep in $(seq 1 "$REPS"); do
  run_arm A "$A" "$rep" "$@"
  run_arm B "$B" "$rep" "$@"
done
echo "[ab] done (failed=$failed)"
exit "$failed"
