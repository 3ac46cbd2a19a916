#!/bin/bash
# N vs 4N scaling evidence through literal spark-submit: the packaged
# jar is submitted twice — local-cluster[1,C,6g] then local-cluster[4,C,6g]
# (1 vs 4 executor JVMs of C cores each, the standalone-cluster shape).
# `graft.Measure scaling` prints one JSON line per side; a third line
# gives scaling_efficiency = sec_n / (4 * sec_4n) for assign and pipeline.
# Requires `sbt package` first. Diagnostics go to
# /tmp/scaling_submit_<execs>.err; a submit that exits non-zero or
# prints no JSON line aborts the script instead of being recorded.
# Usage: tools/scaling_submit.sh [coresPerExec] [nAssign] [nPipeline]
set -euo pipefail
BASE=${1:-2}; NA=${2:-24000000}; NP=${3:-6000000}
cd "$(dirname "$0")/.."
JAR=target/scala-2.13/tcdspark_2.13-0.1.0.jar
[ -f "$JAR" ] || { echo "run 'sbt package' first" >&2; exit 1; }
lines=()
for execs in 1 4; do
  err="/tmp/scaling_submit_$execs.err"
  out=$(SPARK_SCALA_VERSION=2.13 /opt/spark/bin/spark-submit \
    --master "local-cluster[$execs,$BASE,6144]" \
    --driver-memory 8g \
    --conf spark.executor.memory=5g \
    --conf "spark.executor.extraJavaOptions=-XX:ActiveProcessorCount=$BASE" \
    --conf spark.local.dir=/dev/shm/graft-shuffle \
    --class graft.Measure "$JAR" scaling "$NA" "$NP" \
    2>"$err")
  json=$(grep '^{' <<<"$out") ||
    { echo "local-cluster[$execs,$BASE] printed no JSON line; see $err" >&2; exit 1; }
  echo "$json"
  lines+=("$json")
done
python3 - "${lines[@]}" <<'EOF'
import json, sys
n, m = (json.loads(l) for l in sys.argv[1:])
eff = {j: round(n[j + "_sec"] / (4 * m[j + "_sec"]), 3) for j in ("assign", "pipeline")}
print(json.dumps({"cores_n": n["cores"], "cores_4n": m["cores"], "scaling_efficiency": eff}))
EOF
