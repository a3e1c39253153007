#!/usr/bin/env bash
# Paired A/B of the benchmark of record: <rev> against this checkout.
#
#   tools/ab.sh <rev> <workload> <pairs> [first_seed]
#
# Both sides run from fresh git worktrees of the same layout: <rev> is the
# base, and a snapshot of this checkout's working tree (`git stash create`:
# HEAD plus every change to a tracked file, staged or not; HEAD itself when
# the tree is clean) is the change. Untracked files are not in the
# snapshot: `git add` a new file before the run. Running the change from
# the checkout itself cost its side about 7 % of concurrent_sql
# queries_per_s whichever code it held. Each worktree builds into its own
# target/: build output is never copied between checkouts (a copied target/
# let zinc in one checkout delete the other's classes, and the run died
# with NoClassDefFoundError). Each pair runs `perfbench/run.py --workload
# <workload>` once on each side with the same seed (first_seed + pair - 1,
# default first_seed 9001) for BENCHMARK.json's run_seconds; the side that
# runs first alternates pair by pair, so a drifting host favours neither.
#
# Every result line is appended to target/ab/<workload>-<rev>-<stamp>.jsonl
# as {"pair", "side", "order", "seed", "rc", "provenance", "result"}. At the
# end, for every end-to-end metric in BENCHMARK.json, each side's median and
# quartiles are printed with the number of pairs this checkout won. The two
# sides share the machine: run it on a quiet one, nothing else alongside.
set -euo pipefail

if [ $# -lt 3 ] || [ $# -gt 4 ]; then
  echo "usage: $0 <rev> <workload> <pairs> [first_seed]" >&2
  exit 2
fi
rev=$1 workload=$2 pairs=$3 first_seed=${4:-9001}
root=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
base_sha=$(git -C "$root" rev-parse --verify "$rev^{commit}")
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

mkdir -p "$root/target/ab"
results="$root/target/ab/$workload-${base_sha:0:12}-$(date -u +%Y%m%dT%H%M%SZ).jsonl"
change_sha=$(git -C "$root" stash create)
change_sha=${change_sha:-$(git -C "$root" rev-parse HEAD)}
base_dir=$(mktemp -d "${TMPDIR:-/tmp}/ab-base.XXXXXX")
change_dir=$(mktemp -d "${TMPDIR:-/tmp}/ab-change.XXXXXX")
cleanup() {
  for dir in "$base_dir" "$change_dir"; do
    git -C "$root" worktree remove --force "$dir" 2>/dev/null || rm -rf "$dir"
  done
  git -C "$root" worktree prune
}
trap cleanup EXIT
git -C "$root" worktree add --detach --quiet "$base_dir" "$base_sha"
git -C "$root" worktree add --detach --quiet "$change_dir" "$change_sha"
echo "ab: base ${base_sha:0:12} in $base_dir, change ${change_sha:0:12} in $change_dir;" \
  "results -> $results" >&2

# build both sides up front, so no pair's first run follows a compile
for dir in "$base_dir" "$change_dir"; do
  (cd "$dir" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()')
done

# run_one <side> <dir> <pair> <order> <seed>: one run, one appended line
run_one() {
  local side=$1 dir=$2 pair=$3 order=$4 seed=$5 out err rc=0
  out=$(mktemp) err=$(mktemp)
  (cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
    --seconds "$seconds" --trace 0) >"$out" 2>"$err" || rc=$?
  [ "$rc" -eq 0 ] || { echo "ab: $side pair $pair failed (exit $rc):" >&2; tail -20 "$err" >&2; }
  python3 - "$out" "$side" "$pair" "$order" "$seed" "$rc" >>"$results" <<'EOF'
import json, sys
out, side, pair, order, seed, rc = sys.argv[1:]
prov = result = None
for line in open(out):
    if line.startswith("provenance "):
        prov = json.loads(line[len("provenance "):])
    elif line.startswith("{"):
        result = json.loads(line)
print(json.dumps({"pair": int(pair), "side": side, "order": int(order), "seed": int(seed),
                  "rc": int(rc), "provenance": prov, "result": result}))
EOF
  tail -1 "$results" | python3 -c '
import json, sys
r = json.load(sys.stdin)
m = (r["result"] or {}).get("metrics", {})
print("ab: pair %d %-6s seed %d  %s" % (r["pair"], r["side"], r["seed"],
      "  ".join("%s=%.4g" % (k, v["value"]) for k, v in sorted(m.items())) or "no result"),
      file=sys.stderr)'
  rm -f "$out" "$err"
}

for pair in $(seq 1 "$pairs"); do
  seed=$((first_seed + pair - 1))
  if [ $((pair % 2)) -eq 1 ]; then
    run_one base "$base_dir" "$pair" 1 "$seed"
    run_one change "$change_dir" "$pair" 2 "$seed"
  else
    run_one change "$change_dir" "$pair" 1 "$seed"
    run_one base "$base_dir" "$pair" 2 "$seed"
  fi
done

python3 - "$results" "$root/BENCHMARK.json" <<'EOF'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
bench = json.load(open(sys.argv[2]))
runs = {(r["pair"], r["side"]): r for r in rows}
def value(r, name):
    res = r and r["result"]
    return res["metrics"][name]["value"] if res and name in res.get("metrics", {}) else None
def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3
def ok(r):
    res = r and r["result"]
    return bool(res) and res["correct"] and not res["failed"]
pairs = sorted({r["pair"] for r in rows})
bad = {s: sum(not ok(runs.get((p, s))) for p in pairs) for s in ("base", "change")}
print(f"{len(pairs)} pairs; runs failed or incorrect: base {bad['base']}, change {bad['change']}")
print(f"{'metric':<18} {'side':<7} {'median':>10} {'q1':>10} {'q3':>10}   change wins")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    sides = {s: [v for v in (value(runs.get((p, s)), name) for p in pairs) if v is not None]
             for s in ("base", "change")}
    wins = n = 0
    for p in pairs:
        b, c = value(runs.get((p, "base")), name), value(runs.get((p, "change")), name)
        if b is None or c is None:
            continue
        n += 1
        wins += (c < b) if lower else (c > b)
    for s in ("base", "change"):
        q1, q2, q3 = quartiles(sides[s])
        tail = f"   {wins}/{n} ({m['better']} is better)" if s == "change" else ""
        print(f"{name:<18} {s:<7} {q2:>10.4g} {q1:>10.4g} {q3:>10.4g}{tail}")
EOF
echo "ab: results in $results" >&2
