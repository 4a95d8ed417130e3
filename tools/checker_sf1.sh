#!/bin/bash
# First-principles checker at sf1: run each lane in its own process with a
# wall-clock timeout and an address-space cap, so a pandas recompute that is
# intractable at 100x (quadratic pair loops, dense power iterations) fails
# loudly as TIMEOUT/MEM instead of wedging the box. Results: one line per
# lane (PASS/FAIL/TIMEOUT) in $OUT, plus one NOCHECK line per lane in the
# Verify dump that has no CHECKS entry — listed so a checker gap shows in
# the result file, not counted as a failure.
#
# The four rec-family lanes (q23/q46 TF-IDF, q40/q117 TextRank) are
# dispatched to the memory-bounded 32-slice recompute
# (tools/verify_sf1_rec_fp.py — identical arithmetic, user-sliced heaps
# instead of a materialized candidate explode) as two FAMILY jobs with
# their own longer budget: the monolithic recompute is intractable at sf1
# by design (the q220 guard's own ~1.5e9-element ceiling), not by
# implementation. One run of this script therefore covers EVERY checker
# lane at any SF — no side-evidence reruns (VERDICT r10 task 3).
# Usage: tools/checker_sf1.sh <sfDir> <sparkOut> <resultFile> [parallelism]
set -u
SF=${1:?sfDir}; DUMP=${2:?sparkOut}; OUT=${3:?resultFile}; PAR=${4:-8}
# Single source of truth for the family-dispatched lanes: the heredoc
# below consumes this via the environment, and the run_family calls at the
# bottom must name the same four lanes (pairs: tfidf=q23+q46,
# textrank=q40+q117).
FAMILY_LANES="q23_rec_lists q46_precision_rec q40_textrank_rec q117_precision_textrank"
export FAMILY_LANES SF DUMP OUT
: > "$OUT"
LANES=$(python3 - <<'EOF'
import importlib.util, os, sys
spec = importlib.util.spec_from_file_location("vi", "tools/verify_independent.py")
m = importlib.util.module_from_spec(spec)
sys.argv = ["vi"]
try:
    spec.loader.exec_module(m)
except SystemExit:
    pass
family = set(os.environ["FAMILY_LANES"].split())
missing = family - set(m.CHECKS)
if missing:
    sys.exit(f"FAMILY_LANES not in CHECKS registry: {sorted(missing)}")
dump = os.environ["DUMP"]
with open(os.environ["OUT"], "a") as out:
    for lane in sorted(os.listdir(dump)):
        if os.path.isdir(os.path.join(dump, lane)) and lane not in m.CHECKS:
            out.write(f"NOCHECK {lane}\n")
print("\n".join(sorted(set(m.CHECKS) - family)))
EOF
) || exit 1   # sys.exit message (drifted FAMILY_LANES) goes to stderr
run_lane() {
  lane=$1
  # 24 GiB address-space cap per lane; 900 s wall cap.
  res=$( (ulimit -v $((24*1024*1024)); timeout 900 \
    python3 tools/verify_independent.py --sf-dir "$SF" --spark-out "$DUMP" \
      --only "$lane" 2>&1) )
  rc=$?
  if [ $rc -eq 124 ]; then
    echo "TIMEOUT $lane" >> "$OUT"
  elif echo "$res" | grep -q "^PASS $lane"; then
    echo "PASS $lane" >> "$OUT"
  else
    echo "FAIL $lane :: $(echo "$res" | grep -m3 "FAIL\|Error\|error" | tr '\n' ' ')" >> "$OUT"
  fi
}
run_family() { # mode listLane precLane
  mode=$1; list_lane=$2; prec_lane=$3
  # 64 GiB cap (profile dicts, not the candidate explode), 3 h wall: the
  # sliced recompute is ~65 slice-minutes for textrank at sf1.
  res=$( (ulimit -v $((64*1024*1024)); timeout 10800 \
    python3 tools/verify_sf1_rec_fp.py --sf-dir "$SF" --spark-out "$DUMP" \
      --mode "$mode" 2>&1) )
  rc=$?
  for lane in "$list_lane" "$prec_lane"; do
    if [ $rc -eq 124 ]; then
      echo "TIMEOUT $lane (family $mode)" >> "$OUT"
    elif echo "$res" | grep -q "^PASS $list_lane (+$prec_lane)"; then
      echo "PASS $lane" >> "$OUT"
    else
      echo "FAIL $lane :: $(echo "$res" | grep -m3 "FAIL\|Error\|error" | tr '\n' ' ')" >> "$OUT"
    fi
  done
}
export -f run_lane
# family jobs start first (they dominate wall-clock at sf1) and overlap
# with the per-lane pool
run_family tfidf q23_rec_lists q46_precision_rec &
TFIDF_PID=$!
run_family textrank q40_textrank_rec q117_precision_textrank &
TEXTRANK_PID=$!
echo "$LANES" | xargs -P "$PAR" -I{} bash -c 'run_lane {}'
wait "$TFIDF_PID" "$TEXTRANK_PID"
sort -k2 -o "$OUT" "$OUT"
grep -c '^PASS' "$OUT" | xargs echo pass:
grep -c '^NOCHECK' "$OUT" | xargs echo nocheck:
grep -v '^PASS\|^NOCHECK' "$OUT" || true
