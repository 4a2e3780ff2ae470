#!/usr/bin/env bash
# Per-round artifact sequence (CLAUDE.md checklist) in one command:
#   scripts/round_artifacts.sh <N> <prev_bench_full.json> \
#     [fresh_only_q1,q2,...]
#   scripts/round_artifacts.sh <N> --all-fresh
# Runs, in order, at the CURRENT commit (which must be the round's
# final query-touching commit):
#   1. PLANAUDIT_r{N}.json  (+ diff vs r{N-1} if present — every
#      count change on untouched code must be explained)
#   2. PARITY_r{N}.json     (tri-SF oracle parity)
#   3. three full Bench runs at sf0.1, folded into
#      BENCH_r{N}_full.json: with --all-fresh, the fresh minima alone;
#      otherwise fresh-only minima for the listed changed/new
#      queries, load-normalized automatically by the q01/q17 control
#      ratios vs the previous minima (raw values land in fresh_raw),
#      and refused if the previous fold ran at another CPU count
# Every step runs at this box's size, as tier-1 does: $(nproc) cores
# and $SPARK_DRIVER_MEM (default: half the memory, clamped to 2-8 GB).
# Timing-sensitive steps run sequentially; don't run anything else
# on the box during step 3.
set -euo pipefail
N=${1:?usage: round_artifacts.sh <N> <prev_bench_full.json|--all-fresh> [fresh_only]}
# NOTE: no braces inside the :? message — bash ends the ${...}
# expansion at the FIRST unescaped }, so a brace in the message
# appends its tail to the VALUE (bit round 14: PREV became
# "BENCH_r13_full.json_full.json}")
PREV=${2:?need previous bench artifact (BENCH_rN-1_full.json) or --all-fresh}
FRESH=${3:-}
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
echo "box: $SPARK_GRAFT_CPUS cpus, heap $SPARK_DRIVER_MEM"

# Pinning guard (r13 verdict #2 — the r13 artifacts described a
# pre-fixture commit): artifacts must describe EXACTLY the committed
# query code, so refuse to run over uncommitted src/build changes.
if [[ -n "$(git status --porcelain -- src/main build.sbt)" ]]; then
  echo "REFUSING: uncommitted changes under src/main or build.sbt —" >&2
  echo "commit the round's final query-touching change first so" >&2
  echo "the artifacts pin a real commit (git status below)" >&2
  git status --porcelain -- src/main build.sbt >&2
  exit 1
fi
RAN_AT=$(git rev-parse HEAD)
echo "pinning artifacts at $RAN_AT"

echo "== PLANAUDIT_r$N =="
sbt -batch \
  "runMain graft.tools.PlanAudit /root/testdata/sf0.001 PLANAUDIT_r$N.json"
prev_pa="PLANAUDIT_r$((N-1)).json"
if [[ -f "$prev_pa" ]]; then
  echo "== plan-shape diff vs $prev_pa (explain every hunk on untouched queries) =="
  diff "$prev_pa" "PLANAUDIT_r$N.json" || true
fi

echo "== PARITY_r$N (tri-SF) =="
bash scripts/tri_parity.sh "PARITY_r$N.json"

echo "== BENCH: 3 full runs at sf0.1 =="
for i in 1 2 3; do
  bash scripts/bench.sh /root/testdata/sf0.1 "/tmp/bench_r${N}_$i.json" \
    > /dev/null 2>&1
  echo "run $i done"
done
# no brace expansion: some sandboxed shells pass {1,2,3} through
# mangled — spell the three run files out
if [[ "$PREV" == --all-fresh ]]; then
  python3 scripts/bench_fold.py --all-fresh "BENCH_r${N}_full.json" \
    "/tmp/bench_r${N}_1.json" "/tmp/bench_r${N}_2.json" \
    "/tmp/bench_r${N}_3.json"
else
  python3 scripts/bench_fold.py "$PREV" "BENCH_r${N}_full.json" \
    "/tmp/bench_r${N}_1.json" "/tmp/bench_r${N}_2.json" \
    "/tmp/bench_r${N}_3.json" \
    ${FRESH:+--fresh-only "$FRESH"}
fi

# stamp the run so scripts/artifacts_fresh.sh can detect staleness
python3 - "$N" "$RAN_AT" <<'EOF'
import json, sys
n, commit = sys.argv[1], sys.argv[2]
json.dump({"round": int(n), "commit": commit,
           "files": [f"PLANAUDIT_r{n}.json", f"PARITY_r{n}.json",
                     f"BENCH_r{n}_full.json"]},
          open(f"ARTIFACTS_r{n}.json", "w"), indent=1)
print(f"wrote ARTIFACTS_r{n}.json pinned at {commit[:9]}")
EOF
echo "now: commit all four artifacts; any LATER commit touching"
echo "src/main, build.sbt, or the bench/fold scripts makes them"
echo "stale — scripts/artifacts_fresh.sh $N will say so"
