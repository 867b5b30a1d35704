#!/usr/bin/env bash
# Round-end sweep — the ONE command that runs every gate and RECORDS the
# result, so a round can never close without builder-side evidence again
# (the round-13 process slip this script exists to prevent):
#
#   scripts/sweep.sh <round-label> [note...]
#
# Runs, in order: sbt test → Verify + check.py at sf0.01 AND sf0.1 →
# the seeded differential nets at GRAFT_DIFF_SCALE=3 and 5 → the full
# Bench (writes BENCH_LOCAL.json) — then appends one
# {"event":"<round-label>", ...} line (gate results plus the src/main and
# src/test line counts) to PROGRESS.jsonl and stages
# BENCH_LOCAL.json + PROGRESS.jsonl for the closing commit.
#
# Every stage's full log lands under /tmp/sweep_<label>/; a failed stage
# still records (the event line carries the failure), because a sweep
# that hides red is worse than no sweep.
set -u
cd "$(dirname "$0")/.."

LABEL="${1:?usage: sweep.sh <round-label> [note...]}"
shift || true
NOTE="${*:-}"
OUT="/tmp/sweep_${LABEL}"
mkdir -p "$OUT"

run() { # run <name> <cmd...> — capture log, return exit code
  local name="$1"; shift
  echo "[sweep] $name: $*" >&2
  "$@" >"$OUT/$name.log" 2>&1
  local rc=$?
  echo "[sweep] $name: exit $rc" >&2
  return $rc
}

# 0. control-byte guard — a raw NUL (or other control byte) embedded in
# source makes git/grep classify the file as BINARY, silently blinding
# diff review and the grep-based leak/copy scanners (the round-16 slip
# this guard exists to prevent). Tab (0x09) is the one control byte
# allowed; anything else fails the sweep immediately.
CTRL=$(grep -rlP --include='*.scala' --include='*.sh' --include='*.py' \
  --include='*.sbt' '[\x00-\x08\x0b\x0c\x0e-\x1f]' src/ scripts/ build.sbt \
  2>/dev/null || true)
if [ -n "$CTRL" ]; then
  echo "[sweep] FATAL: control bytes embedded in source files:" >&2
  echo "$CTRL" >&2
  exit 1
fi

# 1. full test suite — parse sbt's FINAL total ("Passed: Total N" /
# "Failed: Total N, Failed M"), which counts ScalaCheck properties the
# ScalaTest "Tests:" summary line silently omits (a failed property once
# hid behind a green-looking ScalaTest line)
run tests sbt -batch test
TESTS_RC=$?
TESTS=$(grep -hE '^\[(info|error)\] (Passed|Failed): Total' "$OUT/tests.log" \
  | tail -1 | sed -E 's/.*Total ([0-9]+), Failed ([0-9]+).*/\1 \2/' \
  | awk '{print $1-$2 "/" $1}')
SUITES=$(grep -hE '^\[info\] Suites: completed' "$OUT/tests.log" \
  | awk '{print $4+0}' | tr -d ',')
[ "$TESTS_RC" -ne 0 ] && TESTS="FAIL($TESTS)"

# 2. oracle gates at both SFs
gate() { # gate <sfdir> <outdir> -> "N/N exact" or "FAIL ..."
  local sf="$1" dir="$2"
  rm -rf "$dir"
  if ! run "verify_$(basename "$sf")" sbt -batch "runMain graft.Verify $sf $dir"; then
    echo "FAIL(verify)"; return
  fi
  python3 scripts/check.py "$sf" "$dir" >"$OUT/check_$(basename "$sf").log" 2>&1
  tail -1 "$OUT/check_$(basename "$sf").log" | sed 's/ queries pass/ exact/'
}
ORACLE001=$(gate /root/testdata/sf0.01 /tmp/sweep_verify_001)
ORACLE01=$(gate /root/testdata/sf0.1 /tmp/sweep_verify_01)

# 3. seeded differential nets, deep scales
diffnet() { # diffnet <scale> — the sbt EXIT CODE is the verdict (an
  # aborted suite prints "Tests: succeeded 0, failed 0"; a compile
  # failure prints no Tests line at all — both must read as FAIL)
  if GRAFT_DIFF_SCALE="$1" run "diff_scale$1" sbt -batch \
      "testOnly graft.InfluxQLDifferentialSpec graft.PipelineDifferentialSpec graft.UdpDifferentialSpec"; then
    grep -hE '^\[info\] Tests: succeeded' "$OUT/diff_scale$1.log" \
      | awk '{s+=$4+0; f+=$6+0} END {print s "/" s+f " green"}' | tr -d ','
  else
    grep -hE '^\[info\] Tests: succeeded' "$OUT/diff_scale$1.log" \
      | awk '{s+=$4+0; f+=$6+0} END {print "FAIL(" s "/" s+f ")"}' | tr -d ','
  fi
}
DIFF3=$(diffnet 3)
DIFF5=$(diffnet 5)

# 4. full bench (writes BENCH_LOCAL.json itself); on failure record null
# and do NOT stage the stale previous-run file
if SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 run bench sbt -batch "runMain graft.Bench"; then
  BENCH_TOTAL=$(python3 -c "import json; print(json.load(open('BENCH_LOCAL.json'))['value'])" 2>/dev/null || echo null)
  git add BENCH_LOCAL.json
else
  BENCH_TOTAL=null
fi

# 5. source size: net src/main lines is the number every change reports
lines() { find "src/$1" -name '*.scala' | xargs cat | wc -l; }
MAIN_LINES=$(lines main)
TEST_LINES=$(lines test)

# 6. record + stage
python3 - "$LABEL" "$NOTE" "$TESTS" "$SUITES" "$ORACLE001" "$ORACLE01" \
    "$DIFF3" "$DIFF5" "$BENCH_TOTAL" "$MAIN_LINES" "$TEST_LINES" <<'PY'
import json, sys, time
label, note, tests, suites, o001, o01, d3, d5, bench, main_l, test_l = sys.argv[1:12]
line = {"event": label, "ts": time.time(), "note": note,
        "tests_pass": f"{tests} ({suites} suites)",
        "oracle_sf0_01": o001.strip(), "oracle_sf0_1": o01.strip(),
        "diff_scale3": d3.strip(), "diff_scale5": d5.strip(),
        "bench_total_s": float(bench) if bench not in ("null", "") else None,
        "src_main_lines": int(main_l), "src_test_lines": int(test_l)}
with open("PROGRESS.jsonl", "a") as f:
    f.write(json.dumps(line) + "\n")
print("[sweep] recorded:", json.dumps(line)[:300])
PY
# PROGRESS.jsonl is gitignored (the driver owns it); BENCH_LOCAL.json was
# staged above, only when the bench stage succeeded
echo "[sweep] done — logs in $OUT" >&2
