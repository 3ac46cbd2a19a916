#!/usr/bin/env python3
"""Per-repetition stage table and process launches of one perfbench
`predict` run, from the run directory of a runner copy that also writes an
uncompressed, non-rolling Spark event log (`local-*`) and a JFR recording
(`rec.jfr`) there; BENCH.md has the recipe for that copy.

Stages are attributed to the SQL execution (call site) whose job listed
them first; a stage a job lists but never runs was skipped. A repetition
is counted by its one `GeoTiffIO.writeTable` job, so the set-up's cold
repetition and the untimed warm-ups are included. Needs `jfr` on PATH.

Usage: stage_table.py <run dir>
"""
import collections
import glob
import json
import subprocess
import sys

run = sys.argv[1]
with open(glob.glob(f"{run}/local-*")[0]) as f:
    log = [json.loads(line) for line in f]
sql, site_of, listed, done = {}, {}, [], {}
for e in log:
    ev = e["Event"]
    if ev.endswith("SparkListenerSQLExecutionStart"):
        sql[str(e["executionId"])] = e["description"].split(":")[0]
    elif ev == "SparkListenerJobStart":
        site = sql.get(e["Properties"].get("spark.sql.execution.id"), "no SQL execution")
        listed.append((site, len(e["Stage IDs"])))
        for s in e["Stage IDs"]:
            site_of.setdefault(s, site)
    elif ev == "SparkListenerStageCompleted":
        done[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
reps = sum(1 for s in done.values() if s["Stage Name"].startswith("foreachPartition at GeoTiffIO"))
rows = collections.defaultdict(lambda: [0, 0, 0, 0.0])
for site, n in listed:
    rows[site][0] += n
for sid, s in done.items():
    r = rows[site_of[sid]]
    r[1] += 1
    r[2] += s["Number of Tasks"]
    r[3] += (s["Completion Time"] - s["Submission Time"]) / 1000
print(f"repetitions (writeTable jobs): {reps}")
print("| SQL execution (call site) | stages listed | stages run | tasks | stage wall s |")
print("|---|---|---|---|---|")
for k, (n_listed, n_run, tasks, wall) in sorted(rows.items(), key=lambda kv: -kv[1][3]):
    print(f"| {k} | {n_listed / reps:.1f} | {n_run / reps:.1f} | {tasks / reps:.1f} | {wall / reps:.3f} |")
out = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", f"{run}/rec.jfr"],
                     capture_output=True, text=True, check=True).stdout
cmds = [line.split("=", 1)[1].strip().strip('"') for line in out.splitlines()
        if line.strip().startswith("command =")]
masks = sum(1 for c in cmds if c.startswith("chmod") and "/masks" in c)
parquet = sum(1 for c in cmds if c.startswith("chmod") and "instances.parquet" in c)
print(f"process launches per repetition: {len(cmds) / reps:.1f} "
      f"(chmod under masks/ {masks / reps:.1f}, under instances.parquet/ {parquet / reps:.1f})")
