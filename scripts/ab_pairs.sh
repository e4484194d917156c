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
# benchmark). Prints one row per seed, then the median and IQR of
# latency_s and setup_s per side, how many seeds HEAD won on latency_s,
# and for each of the two metrics HEAD's median move relative to the
# parent's median next to that metric's bound in BENCHMARK.json (a
# relative worsening the benchmark rejects; the file is only read), each
# metric's verdict against its bound, and whether latency_s meets the gain
# rule of the choosing-metrics guide (section 8).
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
bounds = {m["name"]: m.get("bound") for m in json.load(open(benchmark)).get("end_to_end", [])}
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

print("workload %s" % workload)
print("%-6s %-6s %10s %10s %10s %10s %8s" % (
    "seed", "first", "lat_par", "lat_head", "set_par", "set_head", "correct"))
wins = pairs = 0
kept = []
for seed in first:
    lp, lh = metric("parent", seed, "latency_s"), metric("head", seed, "latency_s")
    ok = all(res[(s, seed)].get("correct") is True and not res[(s, seed)].get("failed")
             for s in ("parent", "head"))
    if ok:
        kept.append(seed)
    if ok and lp is not None and lh is not None:
        pairs += 1
        wins += lh < lp
    print("%-6s %-6s %10s %10s %10s %10s %8s" % (
        seed, first[seed], fmt(lp), fmt(lh), fmt(metric("parent", seed, "setup_s")),
        fmt(metric("head", seed, "setup_s")), "yes" if ok else "NO"))

def values(side, name):
    return sorted(v for v in (metric(side, s, name) for s in kept) if v is not None)

def summary(side, name):
    xs = values(side, name)
    if not xs:
        return "-"
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return "median %.3f IQR %.3f [%.3f, %.3f] n=%d" % (statistics.median(xs), q[2] - q[0], q[0], q[2], len(xs))

for name in ("latency_s", "setup_s"):
    for side in ("parent", "head"):
        print("%-9s %-6s %s" % (name, side, summary(side, name)))
print("head wins on latency_s: %d of %d pairs" % (wins, pairs))
# The move is signed: negative is lower (better for both metrics).
for name in ("latency_s", "setup_s"):
    par, head = values("parent", name), values("head", name)
    bound = bounds.get(name)
    move = ("%+.1f%%" % (100.0 * (statistics.median(head) / statistics.median(par) - 1))
            if par and head and statistics.median(par) else "-")
    print("%-9s head median move vs parent: %8s   bound %s" % (
        name, move, "-" if bound is None else "%.2f (worse by more than %+.1f%% is rejected)"
        % (bound, 100.0 * bound)))
print("pairs left out (a run not correct or with failed operations): %d of %d"
      % (len(first) - len(kept), len(first)))

def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]

# Each metric against its bound: a parent IQR wider than the bound (as a
# share of the parent's median) cannot tell a move from noise, unless every
# head run beats every parent run.
for name in ("latency_s", "setup_s"):
    par, head = values("parent", name), values("head", name)
    bound = bounds.get(name)
    if not par or not head or bound is None:
        continue
    mp, iqr = statistics.median(par), spread(par)
    if max(head) < min(par):
        verdict = "better in every run"
    elif iqr > bound * mp:
        verdict = "unresolved (parent IQR %.1f%% of its median exceeds the bound)" % (100.0 * iqr / mp)
    elif statistics.median(head) > mp * (1 + bound):
        verdict = "WORSE than the bound"
    else:
        verdict = "within the bound"
    print("%-9s against its bound: %s" % (name, verdict))

# The gain rule (choosing-metrics guide, section 8) on latency_s: head wins
# at least nine tenths of the kept pairs, and its median beats the parent's
# by more than the parent's IQR. Where the rule fails and the parent's
# spread exceeds the bound, the runs cannot settle it: "unresolved".
par, head = values("parent", "latency_s"), values("head", "latency_s")
bound = bounds.get("latency_s")
if par and head and pairs:
    mp, iqr = statistics.median(par), spread(par)
    gain = mp - statistics.median(head)
    if 10 * wins >= 9 * pairs and gain > iqr:
        verdict = "met"
    elif bound is not None and iqr > bound * mp:
        verdict = "unresolved"
    else:
        verdict = "not met"
    print("latency_s gain rule: %s (head wins %d of %d pairs, needs %d; median gain %.3f vs parent IQR %.3f)"
          % (verdict, wins, pairs, -(-9 * pairs // 10), gain, iqr))
EOF
