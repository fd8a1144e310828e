#!/usr/bin/env bash
# Query-text and plan identity between two revisions of the engine.
#
#   dev/same_queries.sh <rev-a> <rev-b> <sfDir> [keys...]
#
# For each side, exports `src/main/scala` at the revision (`.` means the
# working tree) into a scratch directory under ${TMPDIR:-/tmp}, compiles
# it with the Scala compiler among the Spark jars build.sbt names, then
#   - runs graft.Verify on one quick key (it still writes the FULL
#     oracle_sql.json), and
#   - runs graft.PlanDump on the given keys (none given: plans skipped).
# It then diffs the two sides and exits 1 on any difference:
#   - oracle text: each key's SQL with runs of whitespace outside
#     single-quoted literals collapsed to one space;
#   - plans: `.explain("formatted")` text with expression ids (#12),
#     the numbers of Spark's common-expression aliases (_common_expr_2,
#     from a JVM-wide counter, so they depend on what planned before),
#     exchange ids (plan_id=3), RDD ids (RDD[502]), the source lines
#     of RDD call sites (Materialize.scala:46), object hashes (@1a2b),
#     lambda class names and the side's scratch directory masked.
#     Two plans differ between two runs of one revision at c4f17f5
#     (t2_quality_score: one or two Projects; x16_distinct_agg: the
#     Expand's group order), so a difference there alone is noise.
# Identical output shows that a refactor of query text changed no
# oracle and no plan of the listed keys. Each side runs in its own
# JVMs with its own artifact dir.
# Sides are exported with `git archive`, which leaves the repository's
# worktree list untouched. SPARK_GRAFT_CPUS (default 4) sets local[N];
# KEEP=1 keeps the scratch directory.
set -euo pipefail
cd "$(dirname "$0")/.."

[ $# -ge 3 ] || { echo "usage: $0 <rev-a> <rev-b> <sfDir> [keys...]" >&2; exit 2; }
rev_a=$1 rev_b=$2 sf=$(cd "$3" && pwd)
shift 3
keys=("$@")
quick=r3_projection
cpus=${SPARK_GRAFT_CPUS:-4}
jars=$(sed -n 's/^unmanagedBase *:= *file("\([^"]*\)").*/\1/p' build.sbt)
[ -d "$jars" ] || { echo "build.sbt names no usable unmanagedBase jar directory" >&2; exit 2; }

work=$(mktemp -d "${TMPDIR:-/tmp}/same_queries.XXXXXX")
if [ "${KEEP:-0}" = 1 ]; then echo "scratch: $work" >&2; else trap 'rm -rf "$work"' EXIT; fi

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
         sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=("--add-opens=java.base/$p=ALL-UNNAMED")
done

run_side() {  # <side> <rev>
  local dir=$work/$1 rev=$2
  mkdir -p "$dir/src" "$dir/classes" "$dir/tmp"
  if [ "$rev" = . ]; then
    cp -r src/main "$dir/src/"
  else
    git archive "$rev" src/main/scala | tar -x -C "$dir"
  fi
  echo "[same_queries] $1 = $rev: compiling" >&2
  find "$dir/src/main/scala" -name '*.scala' > "$dir/sources.txt"
  java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
    -d "$dir/classes" -classpath "$jars/*" @"$dir/sources.txt" >"$dir/compile.log" 2>&1 \
    || { tail -40 "$dir/compile.log" >&2; exit 1; }
  local java_cmd=(java -Xmx3g -Duser.timezone=UTC "${opens[@]}"
    "-Djava.io.tmpdir=$dir/tmp" "-Dspark.ui.enabled=false"
    "-Dspark.sql.session.timeZone=UTC" "-Dspark.graft.artifacts.dir=$dir/artifacts"
    -cp "$dir/classes:$jars/*")
  echo "[same_queries] $1: oracle text" >&2
  (cd "$dir" && SPARK_GRAFT_CPUS=$cpus "${java_cmd[@]}" graft.Verify "$sf" "$dir/verify" "$quick" \
    >"$dir/verify.log" 2>&1) || { tail -40 "$dir/verify.log" >&2; exit 1; }
  if [ ${#keys[@]} -gt 0 ]; then
    echo "[same_queries] $1: plans of ${#keys[@]} keys" >&2
    (cd "$dir" && SPARK_GRAFT_CPUS=$cpus "${java_cmd[@]}" graft.PlanDump "$sf" "$dir/plans" plan "${keys[@]}" \
      >"$dir/plandump.log" 2>&1) || { grep -a plandump "$dir/plandump.log" >&2; exit 1; }
  fi
}

run_side a "$rev_a"
run_side b "$rev_b"

python3 - "$work" "${keys[@]}" <<'EOF'
import json, re, sys
work, keys = sys.argv[1], sys.argv[2:]

def squash(sql):
    """Collapse whitespace runs outside single-quoted literals."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n and not (sql[j] == "'" and not (j + 1 < n and sql[j + 1] == "'")):
                j += 2 if sql[j] == "'" else 1
            out.append(sql[i:j + 1]); i = j + 1
        elif c.isspace():
            while i < n and sql[i].isspace(): i += 1
            out.append(" ")
        else:
            out.append(c); i += 1
    return "".join(out).strip()

def mask(plan, side):
    plan = plan.replace(f"{work}/{side}", "<work>")
    plan = re.sub(r"\$\$Lambda[$/\w.]*", "$$Lambda", plan)
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"_common_expr_\d+", "_common_expr_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)
    plan = re.sub(r"\.scala:\d+", ".scala:", plan)
    return re.sub(r"@[0-9a-f]+\b", "@", plan)

bad = 0
oracles = [json.load(open(f"{work}/{s}/verify/oracle_sql.json")) for s in "ab"]
for k in sorted(set(oracles[0]) | set(oracles[1])):
    a, b = (squash(o[k]) if k in o else None for o in oracles)
    if a != b:
        bad += 1
        print(f"oracle {k}: {'missing in a' if a is None else 'missing in b' if b is None else 'differs'}")
print(f"oracles: {len(oracles[0])} vs {len(oracles[1])} keys, {bad} differ")
pbad = 0
for k in keys:
    a, b = (mask(open(f"{work}/{s}/plans/{k}_plan.txt").read(), s) for s in "ab")
    if a != b:
        pbad += 1
        print(f"plan {k}: differs")
        import difflib
        sys.stdout.writelines(list(difflib.unified_diff(
            a.splitlines(True), b.splitlines(True), "a", "b", n=1))[:40])
if keys:
    print(f"plans: {len(keys)} keys, {pbad} differ")
sys.exit(1 if bad or pbad else 0)
EOF
