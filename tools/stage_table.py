#!/usr/bin/env python3
"""Per-repetition stage table, process launches and executor CPU split of
one perfbench `assign`, `predict` or `spatial_join` run, from the run
directory of a runner copy that also writes an uncompressed, non-rolling
Spark event log (`local-*`) and a JFR recording (`rec.jfr`) there; BENCH.md
has the recipe for that copy.

Stages are attributed to the SQL execution (call site) whose job listed
them first; a stage a job lists but never runs was skipped. Under each call
site's per-repetition row comes one row per stage it ran, in stage-id order:
its task count, wall time, summed executor CPU (`Executor CPU Time` of its
tasks) and longest task, so a reduce squeezed into one task shows as a
1-task stage whose longest task is its wall time. Repetitions are
counted by the call site that marks one, chosen by the workload prefix of
the run directory's name: `GeoTiffIO.writeTable`'s `foreachPartition` for
predict, `collect at Workloads` for assign and spatial_join (the most
frequent such call site, counted in SQL executions). The set-up's
cold repetition and the untimed warm-ups are included, and on assign the
output check's own collect too.

The CPU split is the executor threads' `jdk.ExecutionSample` events, each
put in the first group one of its top frames matches (see GROUPS). The
topmost matching frame decides, so the tracer and the rasterizer the merge
calls count as "merge trace" and "rasterize" (the split's mask IoU
rasterizes, so only its counting loop shows as "merge split IoU").
`graft.geom.Geom` frames (union-find and the polygon primitives) and
`CrownOps.BoxCells` frames are passed over (TRANSPARENT): their caller
decides.
Needs `jfr` on PATH.

Usage: stage_table.py <run dir>
"""
import collections
import glob
import json
import os
import re
import subprocess
import sys

MARKERS = {"predict": "foreachPartition at GeoTiffIO",
           "assign": "collect at Workloads",
           "spatial_join": "collect at Workloads"}
# frames no group claims: a sample there goes to the first caller that
# matches, so union-find and polygon primitives count with the tracer, a
# merge part or crown synthesis, and the merge's cell index with NMS, the
# dissolve or the centroid filter
TRANSPARENT = ("graft.geom.Geom", "graft.operators.CrownOps$BoxCells")
# frame substrings per group, tried from the top frame down
GROUPS = [
    ("overlay kernel", ("graft.geom.Overlay",)),
    ("md5", ("sun.security.provider.MD5", "sun.security.provider.DigestBase",
             "java.security.MessageDigest")),
    ("string building", ("UTF8String", "graft.functions.PagesKernel", "java.lang.Long.toString",
                         "java.lang.String.valueOf", "java.lang.StringLatin1",
                         "org.apache.spark.sql.catalyst.expressions.Encode")),
    ("covering_tiles", ("graft.grid.TileGridSpec", "graft.functions.CoveringTiles",
                        "UnsafeArrayData.fromPrimitiveArray")),
    ("hash aggregate", ("java.util.zip.CRC32", "BytesToBytesMap", "AggregationMap",
                        "agg_FastHashMap", "HashAggregate", "hashAgg_")),
    ("crown synthesis", ("graft.operators.CrownOps$.synth", "graft.operators.CrownOps$.mix64")),
    ("merge NMS", ("CrownOps$.nmsLocal", "CrownOps$.$anonfun$nmsLocal", "CrownOps$.scoreOrder")),
    ("merge dissolve", ("CrownOps$.dissolveLocal", "CrownOps$.$anonfun$dissolveLocal",
                        "CrownOps$.instIntersects")),
    ("merge centroid filter", ("CrownOps$.filterCentroids", "CrownOps$.$anonfun$filterCentroids")),
    ("merge split IoU", ("CrownOps$.instIoUCached", "CrownOps$MaskCache")),
    ("merge Inst bookkeeping", ("CrownOps$Inst", "CrownOps$.instOf", "CrownOps$.splitLocal",
                                "CrownOps$.mergeLocal", "CrownOps$.$anonfun$mergeLocal",
                                "CrownOps$.toMerged")),
    ("merge trace", ("graft.geom.Raster$.vectorize", "graft.geom.Raster$.connectedComponents",
                     "graft.geom.Raster$.traceBoundary", "graft.geom.Raster$.dedupCollinear",
                     "graft.geom.Raster$.firstPixels", "graft.geom.Raster$.markBorder",
                     "graft.geom.Raster$.join", "graft.geom.Raster$.root",
                     "graft.geom.Raster$Components", "graft.geom.Raster$Tracer")),
    ("rasterize", ("graft.geom.Raster",)),
    ("parquet write", ("org.apache.parquet",)),
    ("shuffle serialization", ("UnsafeRowSerializer", "ShuffleWriter")),
]

run = sys.argv[1].rstrip("/")
found = re.match(r"(.+)-s\d+-t[01]-\d+$", os.path.basename(run))
if not found or found.group(1) not in MARKERS:
    sys.exit(f"{run}: not an assign, predict or spatial_join run directory")
marker = MARKERS[found.group(1)]

with open(glob.glob(f"{run}/local-*")[0]) as f:
    log = [json.loads(line) for line in f]
sql, site_of, listed, done = {}, {}, [], {}
marked = collections.defaultdict(set)
# per stage: executor CPU s, longest task s
task_cpu, task_max = collections.Counter(), collections.defaultdict(float)
for e in log:
    ev = e["Event"]
    if ev.endswith("SparkListenerSQLExecutionStart"):
        sql[str(e["executionId"])] = e["description"]
        if e["description"].startswith(marker):
            marked[e["description"]].add(e["executionId"])
    elif ev == "SparkListenerJobStart":
        site = sql.get(e["Properties"].get("spark.sql.execution.id"), "no SQL execution")
        listed.append((site, len(e["Stage IDs"])))
        for s in e["Stage IDs"]:
            site_of.setdefault(s, site)
    elif ev == "SparkListenerStageCompleted":
        done[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
    elif ev == "SparkListenerTaskEnd":
        sid, info = e["Stage ID"], e["Task Info"]
        task_cpu[sid] += e.get("Task Metrics", {}).get("Executor CPU Time", 0) / 1e9
        task_max[sid] = max(task_max[sid], (info["Finish Time"] - info["Launch Time"]) / 1000)
if not marked:
    sys.exit(f"{run}: no `{marker}` SQL execution in the event log")
call, runs = max(marked.items(), key=lambda kv: len(kv[1]))
reps = len(runs)
rows = collections.defaultdict(lambda: [0, 0, 0, 0.0, 0.0])
stages_of = collections.defaultdict(list)
for site, n in listed:
    rows[site][0] += n
for sid in sorted(done):
    s = done[sid]
    wall = (s["Completion Time"] - s["Submission Time"]) / 1000
    r = rows[site_of[sid]]
    r[1] += 1
    r[2] += s["Number of Tasks"]
    r[3] += wall
    r[4] += task_cpu[sid]
    stages_of[site_of[sid]].append((sid, s["Number of Tasks"], wall, task_cpu[sid], task_max[sid]))
print(f"repetitions ({call} executions): {reps}")
print("| SQL execution (call site) / stage | stages listed | stages run | tasks | stage wall s "
      "| executor CPU s | longest task s |")
print("|---|---|---|---|---|---|---|")
for k, (n_listed, n_run, tasks, wall, cpu) in sorted(rows.items(), key=lambda kv: -kv[1][3]):
    print(f"| {k} | {n_listed / reps:.1f} | {n_run / reps:.1f} | {tasks / reps:.1f} | {wall / reps:.3f} "
          f"| {cpu / reps:.3f} | |")
    for sid, tasks, wall, cpu, longest in stages_of[k]:
        print(f"| &nbsp;&nbsp;stage {sid} | | | {tasks} | {wall:.3f} | {cpu:.3f} | {longest:.3f} |")

jfr = f"{run}/rec.jfr"
out = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", jfr],
                     capture_output=True, text=True, check=True).stdout
cmds = [line.split("=", 1)[1].strip().strip('"') for line in out.splitlines()
        if line.strip().startswith("command =")]
masks = sum(1 for c in cmds if c.startswith("chmod") and "/masks" in c)
parquet = sum(1 for c in cmds if c.startswith("chmod") and "instances.parquet" in c)
print(f"process launches per repetition: {len(cmds) / reps:.1f} "
      f"(chmod under masks/ {masks / reps:.1f}, under instances.parquet/ {parquet / reps:.1f})")


def group_of(frames):
    for frame in frames:
        if any(k in frame for k in TRANSPARENT):
            continue
        for name, keys in GROUPS:
            if any(k in frame for k in keys):
                return name
    return "other"


samples = collections.Counter()
proc = subprocess.Popen(["jfr", "print", "--stack-depth", "12", "--events", "jdk.ExecutionSample", jfr],
                        stdout=subprocess.PIPE, text=True)
executor, frames, in_stack = False, [], False
for line in proc.stdout:
    s = line.strip()
    if s.startswith("sampledThread ="):
        executor = "Executor task launch worker" in s
    elif s.startswith("stackTrace = ["):
        frames, in_stack = [], True
    elif in_stack and s == "]":
        in_stack = False
        if executor:
            samples[group_of(frames)] += 1
    elif in_stack:
        frames.append(s)
if proc.wait() != 0:
    sys.exit("jfr print failed")
total = sum(samples.values())
print(f"executor-thread CPU samples: {total}")
for name in [g for g, _ in GROUPS] + ["other"]:
    print(f"  {name}: {samples[name]} ({100 * samples[name] / max(total, 1):.1f}%)")
