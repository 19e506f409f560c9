#!/usr/bin/env bash
# The pre-snapshot full gate (SURVEY §5): every registered query dumped
# and DuckDB-compared, the benchmark harness's own tests, full ScalaTest
# suite, bench smoke. Run this as the LAST act of every round — r7
# shipped six crashed queries because a testdata regeneration landed
# after the last full rehearsal.
#
# Usage: tools/gate.sh [sfDir]   (default /root/testdata/sf0.001)
set -uo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"
# step 0 (r12 verdict #2): the compile-on-commit guard must actually be
# installed — a fresh clone has no hooks, and the r7/r11 "snapshot
# commit doesn't compile" class recurs the moment it is missing. The
# install is idempotent; fail LOUDLY if it can't land.
if [ -d .git ]; then
  ln -sf ../../tools/precommit.sh .git/hooks/pre-commit
  if [ ! -e .git/hooks/pre-commit ]; then
    echo "== gate: FATAL — pre-commit hook could not be installed" >&2
    exit 1
  fi
  echo "== gate: pre-commit hook installed ($(readlink .git/hooks/pre-commit))"
fi
OUT="$(mktemp -d /tmp/graft_gate.XXXXXX)"
echo "== gate: Verify at $SF -> $OUT"
sbt -batch "runMain graft.Verify $SF $OUT" > "$OUT/verify.log" 2>&1
VRC=$?
grep -E "\[verify\].*failed" "$OUT/verify.log"
echo "== gate: verify exit $VRC"
echo "== gate: DuckDB oracle compare"
python3 tools/check_oracle.py "$SF" "$OUT"
ORC=$?
echo "== gate: oracle exit $ORC"
echo "== gate: scale-artifact drift check"
python3 tools/check_scale_artifact.py
ARC=$?
echo "== gate: scale-artifact exit $ARC"
echo "== gate: benchmark harness tests"
python3 -m unittest discover -s perfbench/tests > "$OUT/perfbench_tests.log" 2>&1
PRC=$?
tail -n 3 "$OUT/perfbench_tests.log"
echo "== gate: benchmark harness tests exit $PRC"
echo "== gate: full test suite"
sbt -batch test > "$OUT/test.log" 2>&1
TRC=$?
tail -n 4 "$OUT/test.log"
echo "== gate: bench smoke"
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_REPS=1 \
  SPARK_GRAFT_BENCH_OUT="$OUT/bench.json" \
  sbt -batch "runMain graft.Bench" > "$OUT/bench.log" 2>&1
BRC=$?
cat "$OUT/bench.json" 2>/dev/null | head -c 300; echo
echo "== gate: bench exit $BRC"
# boolean accumulation, NOT a sum: exit codes can sum to a multiple of
# 256 (e.g. 130+126) and wrap to 0 through exit's 8-bit truncation
RC=0
[ "$VRC" -eq 0 ] && [ "$ORC" -eq 0 ] && [ "$ARC" -eq 0 ] && [ "$PRC" -eq 0 ] && \
  [ "$TRC" -eq 0 ] && [ "$BRC" -eq 0 ] || RC=1
echo "== gate: OVERALL $([ "$RC" -eq 0 ] && echo PASS || echo FAIL) (logs in $OUT)"
exit $RC
