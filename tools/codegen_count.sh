#!/usr/bin/env bash
# Codegen count: how many whole-stage-codegen classes one benchmark run
# compiles after its warm passes, per timed pass.
#
# Runs `perfbench/run.py --workload <workload> --seed <seed>` (20 s, untraced)
# with the benchmark JVM's class loads logged, then counts the definitions of
# Spark's generated class (`org.apache.spark.sql.catalyst.expressions.GeneratedClass`,
# one per Janino compile; a generated-class cache hit defines nothing) made
# after the harness's `[perfbench] warm at` mark, and divides them by the
# run's timed passes. The window after the mark also holds the calibration
# probes and the output dump after the last pass; both repeat plans the
# passes ran. The benchmark files are not edited: the logging is switched on
# through JAVA_TOOL_OPTIONS, which every JVM started from here reads.
#
# Usage (from anywhere in the repository):
#   tools/codegen_count.sh <workload> <seed>
#     workload  etl_batch | table_lifecycle
# The class-load log and the run's log stay in a fresh temp dir, printed last.
set -euo pipefail

if [ $# -ne 2 ]; then
  echo "usage: $0 <workload> <seed>" >&2
  exit 2
fi
workload="$1"
seed="$2"
cd "$(dirname "$0")/.."

# Build before the logging is switched on, so that no sbt JVM started by the
# build writes the same log as the benchmark JVM.
python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()' > /dev/null

work="$(mktemp -d -t codegen-count-XXXXXX)"
if ! JAVA_TOOL_OPTIONS="-Xlog:class+load=info:file=$work/classload.log:uptime" \
    python3 perfbench/run.py --workload "$workload" --seed "$seed" --seconds 20 --trace 0 \
    > "$work/run.log" 2>&1; then
  tail -n 20 "$work/run.log" >&2
  echo "[codegen] benchmark run failed; log in $work/run.log" >&2
  exit 1
fi
cp perfbench/.work/run/measure/jvm.log perfbench/.work/run/measure/result.json "$work/"

python3 - "$work" "$workload" "$seed" <<'EOF'
import collections
import json
import re
import sys

work, workload, seed = sys.argv[1:]
GENERATED = "org.apache.spark.sql.catalyst.expressions.GeneratedClass"

warm = None
for line in open(f"{work}/jvm.log", errors="replace"):
    m = re.match(r"\[perfbench\] warm at ([0-9.]+) s", line)
    if m:
        warm = float(m.group(1))
if warm is None:
    sys.exit("[codegen] no '[perfbench] warm at' mark in the JVM's log")

before, after = 0, collections.Counter()  # after: by 5 s bin past the mark
for line in open(f"{work}/classload.log", errors="replace"):
    m = re.match(r"\[([0-9.]+)s\](?:\[[^]]*\])*\s*(\S+) ", line)
    if m and m.group(2) == GENERATED:
        t = float(m.group(1))
        if t > warm:
            after[int((t - warm) // 5)] += 1
        else:
            before += 1

res = json.load(open(f"{work}/result.json"))
timed = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
n = sum(after.values())
print(f"[codegen] {workload} seed {seed}: {before} generated classes compiled "
      f"by the warm mark ({warm:.2f} s), {n} after it over {len(timed)} timed passes")
print(f"[codegen] compiles per timed pass: {n / len(timed):.1f}")
# the first seconds after the mark are the calibration probe's first run
print("[codegen] after the mark, by 5 s window: " +
      (" ".join(f"+{5 * b}s:{after[b]}" for b in sorted(after)) or "none"))
EOF
echo "[codegen] class-load log and run log in $work"
