#!/bin/bash
# Counts the OS processes one perfbench run forks, and from where:
#
#   scripts/spawn_census.sh <workload> [label]
#
# Runs `perfbench/run.py --workload <workload> --seed 1 --seconds 15
# --trace 0` with a JFR recording in every JVM (jdk.ProcessStart events,
# stacks 256 frames deep), keeps the workload JVM's recording, and prints a
# TSV: one row per (command, innermost Spark frame, innermost graft frame)
# with its fork count and forks per pass (the timed passes plus the cold
# pass), then a TOTAL row. <label> (default "this") fills the first column,
# so runs of two checkouts concatenate into one table. Exits non-zero when
# the run fails or prints "correct": false.
set -euo pipefail
cd "$(dirname "$0")/.."
workload="${1:?usage: scripts/spawn_census.sh <workload> [label]}"
label="${2:-this}"
jfr_dir="$(mktemp -d)"
trap 'rm -rf "$jfr_dir"' EXIT

JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$jfr_dir/,settings=default \
-XX:FlightRecorderOptions=stackdepth=256" \
  python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 15 --trace 0 \
  > "$jfr_dir/run.out"
tail -1 "$jfr_dir/run.out" | grep -q '"correct": true' || {
  echo "spawn_census: the run failed, see its output:" >&2
  tail -5 "$jfr_dir/run.out" >&2
  exit 1
}

# the workload JVM is the one whose arguments name the workload (the sbt
# build and the session-start probe JVMs record too)
rec=""
for f in "$jfr_dir"/*.jfr; do
  if jfr print --events jdk.JVMInformation "$f" | grep -q -- "--workload $workload"; then
    rec="$f"
  fi
done
[ -n "$rec" ] || { echo "spawn_census: no recording of the workload JVM" >&2; exit 1; }
jfr print --json --stack-depth 256 --events jdk.ProcessStart "$rec" > "$jfr_dir/forks.json"

python3 - "$label" "$workload" "$jfr_dir/forks.json" .bench_build/work/result.json <<'EOF'
import collections
import json
import sys

label, workload, forks_path, result_path = sys.argv[1:]
with open(forks_path) as f:
    events = json.load(f)["recording"]["events"]
with open(result_path) as f:
    passes = len(json.load(f)["passes"]) + 1  # timed passes + the cold pass


def innermost(frames, prefix):
    for fr in frames:
        cls = fr["method"]["type"]["name"].replace("/", ".")
        if cls.startswith(prefix):
            return f"{cls}.{fr['method']['name']}"
    return "-"


rows = collections.Counter()
for e in events:
    v = e["values"]
    frames = (v.get("stackTrace") or {}).get("frames", [])
    command = v["command"].split()[0].rsplit("/", 1)[-1]
    rows[(command, innermost(frames, "org.apache.spark."), innermost(frames, "graft."))] += 1

print("label\tworkload\tcommand\tspark_frame\tgraft_frame\tforks\tforks_per_pass")
for (command, spark, graft), n in sorted(rows.items(), key=lambda kv: (-kv[1], kv[0])):
    print(f"{label}\t{workload}\t{command}\t{spark}\t{graft}\t{n}\t{n / passes:.1f}")
total = sum(rows.values())
print(f"{label}\t{workload}\tTOTAL\t{passes} passes\t-\t{total}\t{total / passes:.1f}")
EOF
