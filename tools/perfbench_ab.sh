#!/usr/bin/env bash
# Interleaved A/B of the repository benchmark: this checkout against a
# parent revision, by the reading rule of paired runs.
#
#   tools/perfbench_ab.sh <parent-rev> <workload> <first-seed> <pairs>
#
# Exports <parent-rev> into a directory of its own (git archive; set
# AB_DIR to reuse one, so its benchmark build is reused too), then for
# seeds first-seed .. first-seed+pairs-1 runs
#
#   python3 perfbench/run.py --workload W --seed S --seconds SEC --trace 0
#
# once in each tree, alternating which tree runs first (SEC is
# BENCHMARK.json's run_seconds). Every run's result line is appended to
# AB_OUT (default: ab-<workload>.jsonl in the current directory); a run
# that fails or prints nothing is recorded as an incorrect run. Each
# run's stderr is kept beside AB_OUT (<AB_OUT minus .jsonl>.stderr/
# <side>-<seed>.log), and its line records the CPU steal ticks the host
# took during the run (the change in /proc/stat's `steal` column). At
# the end it prints, for each end-to-end metric, each side's median and
# quartiles, how many pairs the change wins and ties, and whether the
# change's median beats the parent's by more than the parent's
# interquartile range; then each side's median over runs of every
# operation's best `[perfbench] <op> <ms> ms` time (the untimed
# `-verify` operations left out), so a moved metric can be traced to
# the operation that moved it; then the steal ticks of every run, so
# host noise can be told from a regression; then the failed operations
# per side.
#
# It only reads what the benchmark prints; nothing under perfbench/ is
# changed.
set -euo pipefail

if [ $# -ne 4 ]; then
  echo "usage: $0 <parent-rev> <workload> <first-seed> <pairs>" >&2
  exit 2
fi
rev=$1 workload=$2 first=$3 pairs=$4

child=$(git rev-parse --show-toplevel)
sha=$(git -C "$child" rev-parse --verify "$rev^{commit}")
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$child/BENCHMARK.json")
parent=${AB_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/perfbench-ab-parent.XXXXXX")}
out=${AB_OUT:-$PWD/ab-$workload.jsonl}
logs=${out%.jsonl}.stderr
mkdir -p "$logs"

if [ "$(cat "$parent/.ab_rev" 2>/dev/null)" != "$sha" ]; then
  mkdir -p "$parent"
  git -C "$child" archive "$sha" | tar -x -C "$parent"
  echo "$sha" >"$parent/.ab_rev"
fi
echo "[ab] parent $sha in $parent; change $child; results in $out" >&2

steal() { awk '$1 == "cpu" { print $9 }' /proc/stat; }

# run <side> <tree> <seed>: one benchmark run, its result line tagged
run() {
  local line err="$logs/$1-$3.log" s0
  s0=$(steal)
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0 2>"$err" | tail -n 1) || line=
  [ -n "$line" ] || line='{"correct": false, "attempted": 0, "failed": 0, "metrics": {}}'
  printf '{"side": "%s", "seed": %s, "steal_ticks": %s, "stderr": "%s", "result": %s}\n' \
    "$1" "$3" "$(($(steal) - s0))" "$err" "$line" >>"$out"
  echo "[ab] $1 seed $3: $line" >&2
}

for ((i = 0; i < pairs; i++)); do
  seed=$((first + i))
  if ((i % 2 == 0)); then
    run parent "$parent" "$seed"; run change "$child" "$seed"
  else
    run change "$child" "$seed"; run parent "$parent" "$seed"
  fi
done

python3 - "$out" "$child/BENCHMARK.json" "$first" "$pairs" <<'EOF'
import json, re, statistics, sys

path, contract, first, pairs = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
seeds = set(range(first, first + pairs))
runs, tags = {}, {}
for line in open(path):
    r = json.loads(line)
    if r["seed"] in seeds:
        runs[(r["side"], r["seed"])] = r["result"]
        tags[(r["side"], r["seed"])] = r

def quartiles(v):
    if len(v) < 2:
        return (v[0],) * 3
    q1, q2, q3 = statistics.quantiles(v, n=4, method="inclusive")
    return q1, q2, q3

print(f"{'metric':24} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
      f"{'wins':>5} {'ties':>5} {'pairs':>5}  gain>IQR")
for m in json.load(open(contract))["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pa, ch, wins, ties, n = [], [], 0, 0, 0
    for s in sorted(seeds):
        p = runs.get(("parent", s), {}).get("metrics", {}).get(name)
        c = runs.get(("change", s), {}).get("metrics", {}).get(name)
        if p is None or c is None:
            continue
        p, c = p["value"], c["value"]
        pa.append(p); ch.append(c); n += 1
        if p == c:
            ties += 1
        elif (c < p) == lower:
            wins += 1
    if not n:
        print(f"{name:24} (no paired runs)")
        continue
    (p1, pm, p3), (c1, cm, c3) = quartiles(pa), quartiles(ch)
    gain = (pm - cm if lower else cm - pm) > (p3 - p1)
    print(f"{name:24} {pm:12.6g} [{p1:.6g}, {p3:.6g}]".ljust(60) +
          f" {cm:12.6g} [{c1:.6g}, {c3:.6g}]".ljust(35) +
          f" {wins:5d} {ties:5d} {n:5d}  {'yes' if gain else 'no'}")

# each operation's best time per run, then the median over a side's runs
op_line = re.compile(r"^\[perfbench\] (\S+) ([0-9.]+) ms$")
best = {}
for key, t in tags.items():
    per_run = {}
    try:
        for l in open(t.get("stderr", "")):
            m = op_line.match(l.strip())
            if m and not m.group(1).endswith("-verify"):
                per_run[m.group(1)] = min(per_run.get(m.group(1), 1e300), float(m.group(2)))
    except OSError:
        continue
    for op, ms in per_run.items():
        best.setdefault((key[0], op), []).append(ms)
ops = sorted({op for _, op in best})
if ops:
    print(f"\n{'operation (best ms)':36} {'parent median':>14} {'change median':>14} {'change/parent':>14}")
    for op in ops:
        p, c = best.get(("parent", op)), best.get(("change", op))
        pm = statistics.median(p) if p else float("nan")
        cm = statistics.median(c) if c else float("nan")
        print(f"{op:36} {pm:14.1f} {cm:14.1f} {cm / pm if p and c else float('nan'):14.3f}")
print(f"\n{'seed':>8} {'parent steal ticks':>20} {'change steal ticks':>20}")
for s in sorted(seeds):
    st = [tags.get((side, s), {}).get("steal_ticks", "-") for side in ("parent", "change")]
    print(f"{s:8d} {st[0]!s:>20} {st[1]!s:>20}")
for side in ("parent", "change"):
    rs = [runs[(side, s)] for s in sorted(seeds) if (side, s) in runs]
    print(f"{side}: {len(rs)} runs, {sum(r.get('failed', 0) for r in rs)} failed operations, "
          f"{sum(1 for r in rs if not r.get('correct'))} incorrect runs")
EOF
