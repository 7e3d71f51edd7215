#!/bin/bash
# Crash/resume fault injection on the 2M posture (VERDICT r7 next-round #2):
# kill -9 a posture run mid-chain, resume it, and assert the final table is
# content-identical to an uninterrupted run and the phase metrics carry
# resumed flags. Usage:
#   tools/posture_crash_smoke.sh <reference_output_dir> [rows] [kill_after_phase]
# The reference dir must hold a COMPLETED posture run at the same row count.
# The JVM heap is SPARK_DRIVER_MEM, by default half of MemTotal clamped to
# 2-8 GB (the test suite's sizing); the 2M posture needs more on most hosts.
set -u
: "${SPARK_DRIVER_MEM:=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
export SPARK_DRIVER_MEM
REF=${1:?reference output dir}
ROWS=${2:-2000000}
KILL_PHASE=${3:-minhash_dedup}
OUT=/tmp/posture_crash_$$
LOG=/tmp/posture_crash_$$.log
rm -rf "$OUT"

echo "[smoke] launching posture run to be killed after phase '$KILL_PHASE'..."
sbt -batch "runMain graft.RunPipeline --input synth:$ROWS --output $OUT --posture scale" > "$LOG" 2>&1 &
SBT_PID=$!
# wait for the kill phase to COMMIT (its metrics line printed), then SIGKILL
# the forked JVM mid-next-phase - between a stage commit and later writes
while true; do
  if grep -q "\"phase\":\"$KILL_PHASE\"" "$LOG" 2>/dev/null; then break; fi
  if ! kill -0 $SBT_PID 2>/dev/null; then echo "[smoke] run finished before kill phase?"; exit 1; fi
  sleep 1
done
# find the forked runner JVM (child java of this sbt) and kill -9 it
RUNNER=$(pgrep -P $SBT_PID -f java | head -1)
if [ -z "${RUNNER:-}" ]; then RUNNER=$(pgrep -f "graft.RunPipeline.*$OUT" | head -1); fi
echo "[smoke] kill -9 runner pid $RUNNER (sbt $SBT_PID)"
kill -9 "$RUNNER" 2>/dev/null
wait $SBT_PID 2>/dev/null

echo "[smoke] resuming..."
sbt -batch "runMain graft.RunPipeline --input synth:$ROWS --output $OUT --posture scale" > "${LOG}.resume" 2>&1
grep -E '"phase"|pipeline_done' "${LOG}.resume" | sed 's/^/[resume] /'

python3 - "$REF" "$OUT" <<'EOF'
import duckdb, sys
ref, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
def h(p):
    # the chain's final table is the last phase's committed snapshot
    return con.execute(
        f"select count(*), sum(hash(doc_id)), sum(hash(text)) from read_parquet('{p}/stage_exact_substr/*.parquet')").fetchone()
a, b = h(ref), h(out)
print("[smoke] reference:", a)
print("[smoke] resumed:  ", b)
assert a == b, "resumed output differs from uninterrupted run"
print("[smoke] OK - resumed output content-identical to the uninterrupted run")
EOF
rc=$?
resumed_flags=$(grep -o '"resumed":true' "${LOG}.resume" | wc -l)
echo "[smoke] phases resumed from committed snapshots: $resumed_flags"
exit $rc
