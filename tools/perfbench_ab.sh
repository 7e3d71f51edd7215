#!/usr/bin/env bash
# A/B of perfbench between a git ref and the working tree, in alternating
# order.
#
#   tools/perfbench_ab.sh <git-ref> <workload> <pairs> [first-seed]
#
# Exports <git-ref> with `git archive` to $AB_DIR/base and copies the
# working tree (tracked and untracked, not ignored; deleted files left out)
# to $AB_DIR/head. Pair i runs `python3 perfbench/run.py --workload
# <workload> --seed <first-seed+i> --seconds 10` once in each checkout;
# even pairs (from 0) run base first, odd pairs head first, so drift over
# the session lands on both sides. Each checkout builds once, into its own
# .bench_build, on its first run. Prints one line per pair and, per
# end-to-end metric (docs_per_s, cpu_s_per_kdoc, setup_s), both medians,
# the base runs' interquartile range and the pairs the head won; every
# run's JSON line is kept in $AB_DIR/results.jsonl. AB_DIR defaults to a
# new temp directory, first-seed to 42.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '5p' "$0" >&2
  exit 2
fi
ref=$1 workload=$2 pairs=$3 seed0=${4:-42}
repo=$(git rev-parse --show-toplevel)
dir=${AB_DIR:-$(mktemp -d -t perfbench_ab.XXXXXX)}
mkdir -p "$dir/base" "$dir/head"
git -C "$repo" archive "$ref" | tar -x -C "$dir/base"
# tracked files deleted in the working tree are still listed: skip them
(cd "$repo" && git ls-files -z -co --exclude-standard |
  while IFS= read -r -d '' f; do
    if [ -e "$f" ] || [ -L "$f" ]; then printf '%s\0' "$f"; fi
  done | tar -c --null -T -) | tar -x -C "$dir/head"
results=$dir/results.jsonl
: > "$results"
echo "perfbench_ab: base=$ref head=working tree workload=$workload pairs=$pairs dir=$dir" >&2

run() { # side seed pair
  local line
  # 10 s is perfbench's documented run length (run.py's usage line)
  line=$(cd "$dir/$1" && env -u CARGO_TARGET_DIR python3 perfbench/run.py \
    --workload "$workload" --seed "$2" --seconds 10 | tail -n 1)
  printf '{"side":"%s","seed":%s,"pair":%s,"run":%s}\n' "$1" "$2" "$3" "$line" >> "$results"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then order="base head"; else order="head base"; fi
  for side in $order; do run "$side" "$seed" "$i"; done
  python3 - "$results" "$i" "$order" <<'EOF'
import json, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
pair = [r for r in rows if r["pair"] == int(sys.argv[2])]
def fmt(r):
    m = r["run"]["metrics"]
    ok = "" if r["run"]["correct"] and not r["run"]["failed"] else " INCORRECT"
    return " ".join(f"{k}={m[k]['value']:.4g}" for k in sorted(m)) + ok
by = {r["side"]: r for r in pair}
print(f"pair {sys.argv[2]} seed {pair[0]['seed']} ({sys.argv[3].split()[0]} first): "
      f"base {fmt(by['base'])} | head {fmt(by['head'])}")
EOF
done

python3 - "$results" <<'EOF'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
names = sorted(rows[0]["run"]["metrics"])
for k in names:
    v = {s: [r["run"]["metrics"][k]["value"] for r in rows if r["side"] == s] for s in ("base", "head")}
    b, h = statistics.median(v["base"]), statistics.median(v["head"])
    pairs = {}
    for r in rows:
        pairs.setdefault(r["pair"], {})[r["side"]] = r["run"]["metrics"][k]["value"]
    higher = k == "docs_per_s"
    wins = sum(1 for p in pairs.values() if (p["head"] > p["base"]) == higher and p["head"] != p["base"])
    q1, _, q3 = statistics.quantiles(v["base"], n=4) if len(v["base"]) > 1 else (b, b, b)
    print(f"median {k}: base {b:.4g} (IQR {q3 - q1:.3g}) -> head {h:.4g} ({(h - b) / b * 100:+.1f}%), "
          f"head better in {wins}/{len(pairs)} pairs")
EOF
