#!/usr/bin/env bash
# Paired A/B runs of the repo benchmark between two revisions.
#
#   dev/ab_pairs.sh <rev-a> <rev-b> <workload> <pairs> [first-seed]
#
# Exports each side into a scratch directory under ${TMPDIR:-/tmp}
# (`git archive` of the revision; `.` means the working tree's
# BENCHMARK.json, build.sbt, src/main and perfbench), then runs
#   python3 perfbench/run.py --workload <w> --seed <s> --seconds <run_seconds> --trace 0
# in each side's own directory, with each side's own perfbench, for
# seeds first-seed (default 1) .. first-seed + pairs - 1. Pair i runs
# side a first when i is even and side b first when i is odd, so drift
# in the machine's load falls on both sides alike.
#
# Prints, for every end-to-end metric of BENCHMARK.json: each side's
# median and quartiles, in how many pairs b was better than a, the
# relative median gap (positive = b worse), whether that gap is inside
# the metric's bound (or "unresolved" when either side's interquartile
# range, relative to its median, exceeds the bound and not every b run
# beats every a run), and whether b's median beats a's by more than
# a's interquartile range. Exits 1 if any run failed, reported failed
# operations or produced incorrect output. Each run's two result lines
# are kept in <scratch>/runs.jsonl; KEEP=1 keeps the scratch directory.
# Run nothing else meanwhile: co-tenant load moves the wall-time metrics.
# The script only calls perfbench/; it changes nothing there.
set -euo pipefail
cd "$(dirname "$0")/.."

[ $# -ge 4 ] || { echo "usage: $0 <rev-a> <rev-b> <workload> <pairs> [first-seed]" >&2; exit 2; }
rev_a=$1 rev_b=$2 workload=$3 pairs=$4 first=${5:-1}

work=$(mktemp -d "${TMPDIR:-/tmp}/ab_pairs.XXXXXX")
if [ "${KEEP:-0}" = 1 ]; then echo "scratch: $work" >&2; else trap 'rm -rf "$work"' EXIT; fi

export_side() {  # <side> <rev>
  local dir=$work/$1
  mkdir -p "$dir"
  if [ "$2" = . ]; then
    tar -c --exclude=__pycache__ BENCHMARK.json build.sbt src/main perfbench | tar -x -C "$dir"
  else
    git archive "$2" BENCHMARK.json build.sbt src/main perfbench | tar -x -C "$dir"
  fi
}
export_side a "$rev_a"
export_side b "$rev_b"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' BENCHMARK.json)

status=0
run() {  # <side> <seed>
  local out=$work/run.out
  if (cd "$work/$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
        --seconds "$seconds" --trace 0 >"$out" 2>"$work/run.err"); then :; else
    echo "[ab_pairs] $1 seed $2: run.py exited non-zero" >&2
    tail -5 "$work/run.err" >&2
    status=1
  fi
  python3 - "$1" "$2" "$out" >>"$work/runs.jsonl" <<'EOF'
import json, sys
side, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
lines = [l for l in open(out).read().splitlines() if l.strip()]
try:
    res = json.loads(lines[-1])
except (IndexError, ValueError):
    res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
print(json.dumps({"side": side, "seed": seed, "result": res,
                  "named": json.loads(lines[-2]) if len(lines) > 1 else None}))
m = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
print(f"[ab_pairs] {side} seed {seed}: correct={res['correct']} failed={res['failed']} {m}",
      file=sys.stderr)
EOF
}

for ((i = 0; i < pairs; i++)); do
  seed=$((first + i))
  if ((i % 2 == 0)); then run a "$seed"; run b "$seed"; else run b "$seed"; run a "$seed"; fi
done

python3 - "$work/runs.jsonl" BENCHMARK.json "$workload" "$rev_a" "$rev_b" <<'EOF' || status=1
import json, sys
runs_file, spec_file, workload, rev_a, rev_b = sys.argv[1:]
spec = json.load(open(spec_file))
runs = [json.loads(l) for l in open(runs_file)]
bad = [r for r in runs if not r["result"]["correct"] or r["result"]["failed"] > 0
       or r["result"]["attempted"] == 0]

def quartiles(xs):
    """Lower quartile, median, upper quartile (linear interpolation)."""
    xs = sorted(xs)
    def q(p):
        k = (len(xs) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
    return q(0.25), q(0.5), q(0.75)

by = {(r["side"], r["seed"]): r["result"]["metrics"] for r in runs}
seeds = sorted({r["seed"] for r in runs})
print(f"{workload}: a = {rev_a}, b = {rev_b}, {len(seeds)} pairs (seeds {seeds[0]}-{seeds[-1]})")
print(f"{'metric':<18} {'a q1/med/q3':>30} {'b q1/med/q3':>30}{'b wins':>8}{'gap':>8}{'bound':>7}  verdict")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(by[("a", s)][name]["value"], by[("b", s)][name]["value"]) for s in seeds
             if name in by.get(("a", s), {}) and name in by.get(("b", s), {})]
    if not pairs:
        print(f"{name:<18} no values"); continue
    qa, qb = quartiles([p[0] for p in pairs]), quartiles([p[1] for p in pairs])
    wins = sum((b < a) if lower else (b > a) for a, b in pairs)
    worse = (qb[1] - qa[1]) if lower else (qa[1] - qb[1])
    gap = worse / qa[1] if qa[1] else 0.0
    beyond_iqr = -worse > (qa[2] - qa[0])
    spread = max((q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (qa, qb))
    b_all_better = all((b < a) if lower else (b > a)
                       for a in (p[0] for p in pairs) for b in (p[1] for p in pairs))
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    if spread > m["bound"] and not b_all_better:
        verdict = f"unresolved: spread {spread:.0%} exceeds the bound"
    else:
        verdict = "within bound" if gap <= m["bound"] else "OUTSIDE bound"
    if beyond_iqr:
        verdict += "; b better by more than a's IQR"
    print(f"{name:<18} {fmt(qa):>30} {fmt(qb):>30}{wins:>5}/{len(pairs):<2}{gap:>+8.1%}{m['bound']:>7.2f}  {verdict}")
for r in bad:
    res = r["result"]
    print(f"FAILED RUN: side {r['side']} seed {r['seed']}: correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']}")
sys.exit(1 if bad else 0)
EOF
exit $status
