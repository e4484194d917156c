#!/usr/bin/env bash
# A/B pairs of one benchmark workload: a parent revision against HEAD.
#
#   scripts/ab_pairs.sh <parent-rev> <workload> <seed>...
#
# Exports the committed files of <parent-rev> and of HEAD into two fresh
# directories under ${TMPDIR:-/tmp} (git archive: the tree a benchmark
# checkout sees, nothing uncommitted, no worktree registered in the repo),
# then for every seed runs
#
#   python3 perfbench/run.py --workload W --seed S --seconds 10
#
# once in each tree, alternating which side goes first from seed to seed.
# Each tree builds itself with sbt on its first run (offline, like the
# benchmark). For every end-to-end metric BENCHMARK.json names (the file
# is only read) it prints one row per seed, then the median and IQR per
# side, how many seeds HEAD won, HEAD's median move relative to the
# parent's median next to the metric's bound (a relative worsening the
# benchmark rejects), the metric's verdict against its bound, and whether
# it meets the gain rule of the choosing-metrics guide (section 8).
# A pair where either run is not correct or has a failed operation is left
# out of the wins and the medians; the summary says how many were.
# Per-run logs and the result lines stay in the printed work directory.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
parent_rev=$1 workload=$2
shift 2

repo=$(git rev-parse --show-toplevel)
work=$(mktemp -d "${TMPDIR:-/tmp}/ab_pairs.XXXXXX")
for side in parent head; do
  rev=$parent_rev
  [ "$side" = head ] && rev=HEAD
  mkdir -p "$work/$side"
  git -C "$repo" archive "$(git -C "$repo" rev-parse --verify "$rev^{commit}")" | tar -x -C "$work/$side"
done
echo "# work directory: $work (parent $(git -C "$repo" rev-parse --short "$parent_rev"), head $(git -C "$repo" rev-parse --short HEAD))" >&2

run() { # side seed -> appends "side seed json" to results
  local side=$1 seed=$2 out
  out="$work/$side.$seed.log"
  (cd "$work/$side" && python3 perfbench/run.py --workload "$workload" --seed "$seed" --seconds 10) \
    > "$out" 2>&1 || true
  printf '%s %s %s\n' "$side" "$seed" "$(tail -n 1 "$out")" >> "$work/results"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then order="parent head"; else order="head parent"; fi
  for side in $order; do
    echo "# seed $seed: $side" >&2
    run "$side" "$seed"
  done
  echo "$seed ${order%% *}" >> "$work/first"
  i=$((i + 1))
done

python3 - "$work" "$workload" "$repo/BENCHMARK.json" <<'EOF'
import json, statistics, sys

work, workload, benchmark = sys.argv[1], sys.argv[2], sys.argv[3]
end_to_end = json.load(open(benchmark)).get("end_to_end", [])
names = [m["name"] for m in end_to_end]
bounds = {m["name"]: m.get("bound") for m in end_to_end}
# 1 where lower is better, -1 where higher is: a gain is sign * (parent - head).
sign = {m["name"]: -1 if m.get("better") == "higher" else 1 for m in end_to_end}
first = dict(l.split() for l in open(work + "/first"))
res = {}
for line in open(work + "/results"):
    side, seed, payload = line.rstrip("\n").split(" ", 2)
    try:
        res[(side, seed)] = json.loads(payload)
    except ValueError:
        res[(side, seed)] = {"correct": False, "metrics": {}}

def metric(side, seed, name):
    m = res[(side, seed)].get("metrics", {}).get(name)
    return m.get("value") if isinstance(m, dict) else m

def fmt(v):
    return "-" if v is None else "%.3f" % v

row_fmt = "%-6s %-6s " + " ".join(["%14s %14s"] * len(names)) + " %8s"
print("workload %s" % workload)
print(row_fmt % tuple(["seed", "first"] + [n + s for n in names for s in (":par", ":head")]
                      + ["correct"]))
wins = dict.fromkeys(names, 0)
pairs = dict.fromkeys(names, 0)
kept = []
for seed in first:
    ok = all(res[(s, seed)].get("correct") is True and not res[(s, seed)].get("failed")
             for s in ("parent", "head"))
    if ok:
        kept.append(seed)
    row = []
    for name in names:
        p, h = metric("parent", seed, name), metric("head", seed, name)
        if ok and p is not None and h is not None:
            pairs[name] += 1
            wins[name] += sign[name] * (p - h) > 0
        row += [fmt(p), fmt(h)]
    print(row_fmt % tuple([seed, first[seed]] + row + ["yes" if ok else "NO"]))

def values(side, name):
    return sorted(v for v in (metric(side, s, name) for s in kept) if v is not None)

def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]

def summary(side, name):
    xs = values(side, name)
    if not xs:
        return "-"
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return "median %.3f IQR %.3f [%.3f, %.3f] n=%d" % (statistics.median(xs), q[2] - q[0], q[0], q[2], len(xs))

for name in names:
    for side in ("parent", "head"):
        print("%-9s %-6s %s" % (name, side, summary(side, name)))
for name in names:
    print("head wins on %s: %d of %d pairs" % (name, wins[name], pairs[name]))
# The move is signed: negative is lower.
for name in names:
    par, head = values("parent", name), values("head", name)
    bound = bounds.get(name)
    move = ("%+.1f%%" % (100.0 * (statistics.median(head) / statistics.median(par) - 1))
            if par and head and statistics.median(par) else "-")
    print("%-9s head median move vs parent: %8s   bound %s" % (
        name, move, "-" if bound is None else "%.2f (worse by more than %.1f%% is rejected)"
        % (bound, 100.0 * bound)))
print("pairs left out (a run not correct or with failed operations): %d of %d"
      % (len(first) - len(kept), len(first)))

# Each metric against its bound: a parent IQR wider than the bound (as a
# share of the parent's median) cannot tell a move from noise, unless every
# head run beats every parent run.
for name in names:
    par, head = values("parent", name), values("head", name)
    bound = bounds.get(name)
    if not par or not head or bound is None:
        continue
    mp, iqr, sg = statistics.median(par), spread(par), sign[name]
    if all(sg * (p - h) > 0 for p in par for h in head):
        verdict = "better in every run"
    elif iqr > bound * mp:
        verdict = "unresolved (parent IQR %.1f%% of its median exceeds the bound)" % (100.0 * iqr / mp)
    elif sg * (statistics.median(head) - mp) > bound * mp:
        verdict = "WORSE than the bound"
    else:
        verdict = "within the bound"
    print("%-9s against its bound: %s" % (name, verdict))

# The gain rule (choosing-metrics guide, section 8) on each metric: head
# wins at least nine tenths of the kept pairs, and its median beats the
# parent's by more than the parent's IQR. Where the rule fails and the
# parent's spread exceeds the bound, the runs cannot settle it: "unresolved".
for name in names:
    par, head = values("parent", name), values("head", name)
    bound = bounds.get(name)
    if not (par and head and pairs[name]):
        continue
    mp, iqr = statistics.median(par), spread(par)
    gain = sign[name] * (mp - statistics.median(head))
    if 10 * wins[name] >= 9 * pairs[name] and gain > iqr:
        verdict = "met"
    elif bound is not None and iqr > bound * mp:
        verdict = "unresolved"
    else:
        verdict = "not met"
    print("%-9s gain rule: %s (head wins %d of %d pairs, needs %d; median gain %.3f vs parent IQR %.3f)"
          % (name, verdict, wins[name], pairs[name], -(-9 * pairs[name] // 10), gain, iqr))
EOF
