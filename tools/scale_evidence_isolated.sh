#!/usr/bin/env bash
# Per-phase-isolated sf1 `graft.Measure scale` run (VERDICT r5 "Next round" #6).
#
# The single-JVM phase sequence contaminates neighbors: r5 measured ann_lsh
# at 68 s when run right after exact_substr's 36 GB heap spike vs 18-24 s
# dedicated, and exact_dedup spreading 5.2-43.1 s from page-cache/GC
# effects. This driver runs every phase in its OWN fresh JVM (sbt fork),
# against the same cached corpus, and concatenates the per-phase JSON lines.
#
# Usage: tools/scale_evidence_isolated.sh [rows] [out.jsonl]
# The JVM heap is SPARK_DRIVER_MEM, by default half of MemTotal clamped to
# 2-8 GB (the test suite's sizing); set it to run 2M rows on a larger host.
set -euo pipefail
cd "$(dirname "$0")/.."

ROWS="${1:-2000000}"
OUT="${2:-/tmp/scale_evidence_isolated_${ROWS}.jsonl}"
: > "$OUT"

: "${SPARK_DRIVER_MEM:=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
export SPARK_DRIVER_MEM

PHASES=(full_pipeline exact_dedup minhash_dedup sentence_dedup url_dedup
        exact_substr exact_substr_anchored extract_general ann_lsh)

# warm the corpus cache once (gen_corpus always runs; phase filter "none"
# matches nothing else)
sbt -batch "runMain graft.Measure scale $ROWS none" >/dev/null 2>&1 || true

for p in "${PHASES[@]}"; do
  echo "=== phase $p (fresh JVM) ===" >&2
  sbt -batch "runMain graft.Measure scale $ROWS $p" 2>&1 |
    grep -o '{"phase":"'"$p"'".*}' | tail -1 >> "$OUT" || echo "phase $p FAILED" >&2
done

echo "wrote $OUT" >&2
cat "$OUT"
