#!/bin/bash
# Alternating same-box A/B of the repo benchmark (perfbench/) between two
# checkouts:
#
#   tools/perf_ab.sh <treeA> <treeB> <workload> <seed...>
#
# For every seed, runs `python3 perfbench/run.py --workload <workload>
# --seed <seed> --seconds <run_seconds> --trace 0` once from each tree
# (run_seconds as <treeA>/BENCHMARK.json fixes it, the same for both
# arms), serially, alternating which arm runs first (A first on the 1st,
# 3rd, ... seed; B first on the others). Prints every run's exit
# code and gated (end-to-end) metrics as it finishes, then per arm the
# median and quartiles of each gated metric, and per metric the number of
# seeds on which B beat A in the direction BENCHMARK.json gives. For a
# workload whose ops return ids (ann_serving's probes), also prints on how
# many seeds every batch both arms probed got the same ids in both.
# Each run's stdout lands in <arm>_<seed>.out, its stderr in
# <arm>_<seed>.out.err and run.py's per-op record (.bench_work/
# <workload>-trace0.json) in <arm>_<seed>.json, in a new directory under ${TMPDIR:-/tmp} whose
# path is printed at the end. Bytecode writing is switched off,
# so neither tree's perfbench/ is touched; run.py's own build and work
# directories (.bench_build/, .bench_work/) are created as usual.
# Exits nonzero if any run failed.
if [ $# -lt 4 ]; then
  echo "usage: tools/perf_ab.sh <treeA> <treeB> <workload> <seed...>" >&2
  exit 2
fi
A="$(cd "$1" && pwd)" || exit 2
B="$(cd "$2" && pwd)" || exit 2
WORKLOAD="$3"
shift 3
for s in "$@"; do
  [[ "$s" =~ ^[0-9]+$ ]] || { echo "perf_ab.sh: seeds must be non-negative integers (got '$s')" >&2; exit 2; }
done
SECONDS_PER_RUN="$(python3 -c 'import json, sys; print(int(json.load(open(sys.argv[1]))["run_seconds"]))' "$A/BENCHMARK.json")" || exit 2
OUT="$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")" || exit 2
export PYTHONDONTWRITEBYTECODE=1
failed=0

run_arm () { # $1 = arm label, $2 = tree, $3 = seed
  local arm="$1" tree="$2" seed="$3" out="$OUT/$1_$3.out"
  (cd "$tree" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
    --seconds "$SECONDS_PER_RUN" --trace 0 > "$out" 2> "$out.err")
  local rc=$?
  cp "$tree/.bench_work/$WORKLOAD-trace0.json" "$OUT/$1_$3.json" 2> /dev/null
  echo "[perf_ab] arm=$arm seed=$seed rc=$rc $(tail -n 1 "$out" | python3 -c '
import json, sys
def val(v):
    return v["value"] if isinstance(v, dict) else v
try:
    ms = json.loads(sys.stdin.read())["metrics"]
    print(" ".join("%s=%.4g" % (k, val(v)) for k, v in sorted(ms.items())))
except Exception:
    print("(no metrics line)")')"
  [ "$rc" -eq 0 ] || failed=1
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run_arm A "$A" "$seed"; run_arm B "$B" "$seed"
  else
    run_arm B "$B" "$seed"; run_arm A "$A" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$A/BENCHMARK.json" "$OUT" "$@" <<'EOF'
import json, os, statistics, sys

bench, out, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
gated = [(m["name"], m["better"]) for m in json.load(open(bench))["end_to_end"]]

def metrics(arm, seed):
    """{name: value} of the run's metrics line, or None without one."""
    try:
        with open(os.path.join(out, f"{arm}_{seed}.out")) as f:
            ms = json.loads(f.read().strip().splitlines()[-1])["metrics"]
    except Exception:
        return None
    return {k: v["value"] if isinstance(v, dict) else v for k, v in ms.items()}

runs = {arm: {s: metrics(arm, s) for s in seeds} for arm in "AB"}

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

print(f"[perf_ab] {len(seeds)} seeds; per arm: median [q1, q3] (q3-q1); B wins")
for name, better in gated:
    line = f"[perf_ab] {name}:"
    for arm in "AB":
        xs = [r[name] for r in runs[arm].values() if r and name in r]
        if xs:
            q1, med, q3 = quartiles(sorted(xs))
            line += f"  {arm} {med:.4g} [{q1:.4g}, {q3:.4g}] ({q3 - q1:.3g})"
    pairs = [(runs["A"][s][name], runs["B"][s][name]) for s in seeds
             if runs["A"][s] and runs["B"][s] and name in runs["A"][s] and name in runs["B"][s]]
    wins = sum(1 for a, b in pairs if (b < a if better == "lower" else b > a))
    line += f"  B wins {wins}/{len(pairs)}"
    print(line)

def batch_ids(arm, seed):
    """{batch: ids} of the run's probe ops, or None without a record."""
    try:
        with open(os.path.join(out, f"{arm}_{seed}.json")) as f:
            ops = json.load(f)["ops"]
    except Exception:
        return None
    return {o["batch"]: o["ids"] for o in ops if o.get("ids") is not None}

compared = same = 0
for s in seeds:
    a, b = batch_ids("A", s), batch_ids("B", s)
    common = sorted(set(a or {}) & set(b or {}))
    if common:
        compared += 1
        if all(a[n] == b[n] for n in common):
            same += 1
        else:
            print(f"[perf_ab] seed {s}: per-batch probe ids differ between the arms")
if compared:
    print(f"[perf_ab] per-batch probe ids equal on {same}/{compared} seeds")
EOF
echo "[perf_ab] outputs in $OUT (failed=$failed)"
exit "$failed"
