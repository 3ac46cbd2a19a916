"""Seeded benchmark of the tile-assign -> crown-merge -> commit path.

    python3 perfbench/run.py --workload <assign|predict|crownjob|spatial_join>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the engine and the benchmark
(see build.py) if needed, runs one workload in one JVM (Spark local[nproc],
a closed loop with one client: this benchmark), and prints as its
last stdout line one JSON object with the keys correct, attempted, failed
and metrics.  --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics of a separate traced run.  Everything the run writes
stays under .bench_build/ in the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("assign", "predict", "crownjob", "spatial_join")
JVM_TIMEOUT_S = 170
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt injects the same list for its own runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def valid_result(obj) -> bool:
    return (isinstance(obj, dict)
            and set(obj) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(obj["attempted"], int) and obj["attempted"] >= 1
            and isinstance(obj["failed"], int) and isinstance(obj["metrics"], dict))


def main() -> int:
    args = parse_args()
    if args.seed < 0 or args.seconds < 1:
        print("--seed must be >= 0 and --seconds >= 1", file=sys.stderr)
        return 2
    try:
        build.build()
        cp = build.classpath()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    run_dir = build.BUILD / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    result_file = run_dir / "result.json"
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--dir", str(run_dir), "--result", str(result_file)])
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"benchmark JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        # the run's scratch (warehouses, written tiles) goes; the result
        # and the trace file stay for inspection
        for sub in ("tmp", "work"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)
    if code != 0 or not result_file.is_file():
        print(f"benchmark JVM failed (exit {code})", file=sys.stderr)
        return 1
    result = json.loads(result_file.read_text())
    if not valid_result(result):
        print("benchmark JVM wrote a malformed result", file=sys.stderr)
        return 1
    declared = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"]
            for m in declared["per_layer" if args.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        print("metrics differ from BENCHMARK.json: "
              f"missing {sorted(want.keys() - got.keys())}, extra {sorted(got.keys() - want.keys())}, "
              f"units {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}",
              file=sys.stderr)
        return 1
    print(f"run wall {time.monotonic() - t0:.1f} s, files under {run_dir.relative_to(build.ROOT)}",
          file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
