#!/usr/bin/env bash
# End-of-round artifact snapshot — run at FINAL HEAD with nothing else on
# the machine (r9, VERDICT r8 tasks 2/4/6: PLANS.md was generated before
# the round's last commits in r8; this script makes the ordering
# mechanical). Steps, in order:
#
#   1. clean DuckDB temp spills (a killed oracle leaves tens of GB)
#   2. PLANS.md via PlanAudit          (AT final HEAD, never before)
#   3. quiet bench leg at sf0.1        -> BENCH_DETAIL.json (+ canary gate)
#   4. quiet bench leg at /tmp/sf1     -> merged into BENCH_sf1.json
#   5. P03 per-stage probe at sf1+sf10 -> P03STAGES.json
#   6. state probe sf0.1(+sf1, sf10)   -> STATEPROBE.json
#   7. (opt-in: SNAPSHOT_SF10_GATE=1)  -> CORRECTNESS_sf10.json at HEAD
#   8. commit every artifact this script generated (r10, VERDICT r9
#      "What's wrong" #4: uncommitted evidence gets clobbered by the
#      driver's and judge's own post-round reruns)
#
# Replicas must exist first (ScaleUp; they do not survive restarts):
#   sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10"
#   sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf10 100"
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: snapshot.sh <round>}"

echo "== 1. duckdb temp spills"
rm -rf /root/repo/.tmp/duckdb_temp_storage-* || true

echo "== 2. PLANS.md (PlanAudit at HEAD $(git rev-parse --short HEAD))"
sbt -batch "runMain graft.tools.PlanAudit /root/testdata/sf0.001 PLANS.md"

echo "== 3. bench leg sf0.1 (A)"
rm -f /tmp/bench_sf01_detail.json /tmp/bench_sf01_merged.json
rm -rf /tmp/bench_legB
SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "runMain graft.Bench" | grep '^{' | tail -1
  # (grep '^{': sbt prints "[success] Total time..." AFTER the program's
  # single JSON line, so a bare tail -1 captures the wrong line)
python3 -m json.tool BENCH_DETAIL.json > /dev/null  # validate artifact JSON
cp BENCH_DETAIL.json /tmp/bench_sf01_detail.json

echo "== 3b. bench leg sf0.1 (B, fresh JVM) + two-leg min merge"
# per-query min across TWO JVM legs (r11, VERDICT r10 "What's wrong" #2):
# whole legs drift 15%+ with VM speed, which no in-JVM pass count cancels —
# the committed number of record is the cross-leg min
SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_OUT=/tmp/bench_legB \
  sbt -batch "runMain graft.Bench" | grep '^{' | tail -1
python3 scripts/merge_legs.py /tmp/bench_sf01_detail.json \
  /tmp/bench_legB/BENCH_DETAIL.json /tmp/bench_sf01_merged.json "BENCH_r${ROUND}.stdout"
python3 -m json.tool "BENCH_r${ROUND}.stdout" > /dev/null  # validate stdout line

echo "== 4. bench leg /tmp/sf1"
# BENCH_sf1 ratios compare SAME-protocol legs: leg A vs the single sf1 leg
# (a min-merged numerator over a single-leg denominator would bias ratios)
SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/tmp/sf1 \
  sbt -batch "runMain graft.Bench" | grep '^{' | tail -1
python3 scripts/merge_bench.py /tmp/bench_sf01_detail.json BENCH_DETAIL.json \
  "$ROUND" BENCH_sf1.json
cp /tmp/bench_sf01_merged.json BENCH_DETAIL.json  # driver-facing = two-leg min

echo "== 5. p03 per-stage probe"
{
  printf '{"round":%s,"legs":[' "$ROUND"
  SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.queries.P03StageProbe /tmp/sf1" 2>/dev/null | grep '^{' | tr -d '\n'
  printf ','
  SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.queries.P03StageProbe /tmp/sf10" 2>/dev/null | grep '^{' | tr -d '\n'
  printf ']}\n'
} > P03STAGES.json
python3 -m json.tool P03STAGES.json > /dev/null  # validate

echo "== 6. state probe (curation funnel, bandStats, skyline)"
# one JVM per scale; each replica leg runs where its replica exists
{
  printf '{"round":%s,"note":"streaming state shapes per scale. funnel: every state table holds max_rows_per_key 1 (anchors keyed by band, collide/stars by doc, counters by source); collide/stars rows grow with COLLIDING docs only. band: buckets spread across the time axis from the first trigger, every buffer obeys the two-window bound, the event-time timeout reclaims expired buckets. skyline: ONE state key of exactly the batch x08 frontier","legs":[' "$ROUND"
  SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.tools.StateProbe /root/testdata/sf0.1 sf0.1" 2>/dev/null | grep '^{' | tr -d '\n'
  if [ -d /tmp/sf1 ]; then
    printf ','
    SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.tools.StateProbe /tmp/sf1 sf1-10x" 2>/dev/null | grep '^{' | tr -d '\n'
  fi
  if [ -d /tmp/sf10 ]; then
    printf ','
    SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.tools.StateProbe /tmp/sf10 sf10-100x" 2>/dev/null | grep '^{' | tr -d '\n'
  fi
  printf ']}\n'
} > STATEPROBE.json
python3 -m json.tool STATEPROBE.json > /dev/null  # validate

if [ "${SNAPSHOT_SF10_GATE:-0}" = "1" ] && [ -d /tmp/sf10 ]; then
  # The 100x strict gate takes hours (d09's exact all-pairs oracle alone
  # needs ~2400s idle), so it is opt-in AND idle-gated: benching or
  # sweeping on a loaded box is how the r8/r9 artifacts got poisoned.
  LOAD1=$(cut -d' ' -f1 /proc/loadavg | cut -d. -f1)
  if [ "$LOAD1" -lt 4 ]; then
    echo "== 7. sf10 strict gate at HEAD $(git rev-parse --short HEAD)"
    sbt -batch "runMain graft.Verify /tmp/sf10 /tmp/sf10gate" > /tmp/sf10gate_verify.log 2>&1
    # per-query budget (ADVICE r10): d09's exact all-pairs oracle needs
    # ~1049s idle — the documented sf10 budget is {default:900, d09:2400}
    python3 scripts/oracle_sweep.py /tmp/sf10 /tmp/sf10gate /tmp/sf10_sweep.json \
      "900,d09_simhash_pairs=2400" \
      $(python3 -c "
import json
exc = {n for group in json.load(open('scripts/sf10_exclusions.json')).values() for n in group}
names = sorted(json.load(open('/tmp/sf10gate/oracle_sql.json')))
print(' '.join(n for n in names if n not in exc))")
    python3 scripts/make_gate_json.py /tmp/sf10_sweep.json CORRECTNESS_sf10.json \
      "$ROUND" scripts/sf10_note.txt scripts/sf10_exclusions.json scripts/sf10_adjudicated.json
  else
    echo "== 7. SKIPPED sf10 gate: load1=$LOAD1 not idle"
  fi
fi

echo "== 8. commit snapshot artifacts"
# Refuse to run with a dirty index (ADVICE r10): anything the operator had
# staged before this script would otherwise be swept into the mechanical
# snapshot commit. The commit itself is also pathspec-scoped as a second
# fence — only files this script generates can land in it.
if ! git diff --cached --quiet; then
  echo "ERROR: index already has staged changes — commit or unstage them first" >&2
  exit 1
fi
SNAP_FILES=(PLANS.md BENCH_DETAIL.json BENCH_CANARY.json "BENCH_r${ROUND}.stdout" \
  BENCH_sf1.json P03STAGES.json STATEPROBE.json CORRECTNESS_sf10.json)
# Stage files INDIVIDUALLY (ADVICE r11, medium): a single `git add` with
# every pathspec is all-or-nothing — one missing artifact (e.g. the opt-in
# CORRECTNESS_sf10.json on a round that skipped step 7) made it stage
# NOTHING, with the error swallowed, silently defeating the r10 "commit
# every artifact" fence. Artifacts this run GENERATED must exist — fail
# loudly on those; only the opt-in sf10 gate may legitimately be absent.
MISSING=()
for f in "${SNAP_FILES[@]}"; do
  if [ -e "$f" ]; then
    git add -- "$f"
  elif [ "$f" = "CORRECTNESS_sf10.json" ]; then
    echo "note: $f absent (opt-in step 7 not run) — skipping"
  else
    MISSING+=("$f")
  fi
done
if [ "${#MISSING[@]}" -gt 0 ]; then
  echo "ERROR: snapshot artifacts missing after generation: ${MISSING[*]}" >&2
  exit 1
fi
git diff --cached --quiet || git commit -m "round ${ROUND} snapshot artifacts (mechanical, at HEAD $(git rev-parse --short HEAD))"

echo "== snapshot complete (round $ROUND)"
