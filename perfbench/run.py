#!/usr/bin/env python3
"""Seeded end-to-end and per-layer benchmark of the dedup library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library and the benchmark from
source (build.py), generates the workload's input from the seed, runs the
pipeline for the measured window, checks every pass's output against the
planted truth, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see README.md).
Exits non-zero if any pass failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("jsonl_m500", "images_dense")
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
MB = 1e6


def java(classes, work, args, log):
    """Runs perfbench.Main in its own JVM; returns its stdout lines."""
    cp = os.pathsep.join([classes, os.path.join(build.jar_dir(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap: a growing one adds GC variance to the early passes
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "a") as err:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                           env=env, timeout=JVM_TIMEOUT_S)
    if r.returncode != 0:
        raise RuntimeError(f"{' '.join(args[:2])} exited {r.returncode}; see {log}")
    return r.stdout.splitlines()


def prune(work, workload, seed):
    """Drops inputs and outputs of other seeds; keeps this seed's input."""
    for sub in ("data", "out"):
        d = os.path.join(work, sub)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            keep = sub == "data" and name.startswith(f"{workload}-{seed}")
            if name.startswith(workload + "-") and not keep:
                p = os.path.join(d, name)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


def end_to_end(raw):
    measured = [p for p in raw["passes"] if p["phase"] == "measured"]
    wall = stats.median([p["seconds"] for p in measured])
    return {
        "wall_s": (wall, "s"),
        "throughput_mb_s": (raw["input_bytes"] / MB / wall, "MB/s"),
        "setup_s": (raw["setup_s"], "s"),
        "first_pass_s": (raw["passes"][0]["seconds"], "s"),
        "retained_heap_mb": (stats.median([p["retained_mb"] for p in measured]), "MB"),
        "shuffle_amp": (stats.median(
            [p["shuffle_write_bytes"] for p in measured]) / raw["input_bytes"], "B/B"),
        "planted_recall": (raw["recall"], "fraction"),
        "planted_precision": (raw["precision"], "fraction"),
    }


# listener counter -> (metric suffix, scale, unit), per layer
LAYER_METRICS = {
    "busy_s": ("busy_s", 1, "s"), "task_s": ("task_s", 1, "s"),
    "rows_out": ("rows_out", 1, "count"),
    "shuffle_write_bytes": ("shuffle_write_mb", MB, "MB"),
    "spill_bytes": ("spill_mb", MB, "MB"), "skew": ("skew", 1, "ratio"),
    "peak_task_mem_bytes": ("peak_task_mem_mb", MB, "MB"),
    "tasks_failed": ("tasks_failed", 1, "count"), "jobs": ("jobs", 1, "count"),
}


def per_layer(raw):
    with open(raw["span_file"]) as f:
        spans = json.load(f)
    selfs = {}
    for name, pss, s in stats.self_times(spans):
        selfs.setdefault(name, []).append(s)
    m = {}
    for layer in raw["layers"][0]:
        for key, (suffix, scale, unit) in LAYER_METRICS.items():
            m[f"{layer}.{suffix}"] = (
                stats.median([ls[layer][key] for ls in raw["layers"]]) / scale, unit)
        m[f"{layer}.self_s"] = (stats.median(selfs.get(layer, [0.0])), "s")

    def v(name):
        return m[name][0]
    m["SubstringDedup.removeRanges.shuffle_b_per_position"] = (
        v("SubstringDedup.removeRanges.shuffle_write_mb") * MB / raw["window_positions"], "B")
    cand = v("MinHashLSH.candidatePairs.rows_out")
    m["MinHashLSH.verify_yield"] = (
        v("MinHashLSH.verifiedPairs.rows_out") / cand if cand else 0.0, "fraction")
    rt = v("JsonlDedupJob.readTree.self_s")
    m["JsonlDedupJob.readTree.mb_s"] = (raw["input_bytes"] / MB / rt if rt else 0.0, "MB/s")

    def median_seconds(phase):
        return stats.median([p["seconds"] for p in raw["passes"] if p["phase"] == phase])
    m["trace.total_over_wall"] = (median_seconds("traced") / median_seconds("measured"), "ratio")
    m["trace.glue_s"] = (stats.median(selfs["pass"]), "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")
    work = os.path.join(build.BUILD_DIR, "work")
    os.makedirs(work, exist_ok=True)
    prune(work, a.workload, a.seed)
    log = os.path.join(work, f"{a.workload}-{a.seed}.log")
    if os.path.exists(log):
        os.remove(log)
    t0 = time.time()
    out = java(classes, work, ["run", a.workload, str(a.seed), str(a.seconds),
                               str(a.trace), work], log)
    raw = json.loads(next(l for l in reversed(out) if l.startswith("PERFBENCH_RAW "))
                     .split(" ", 1)[1])
    with open(os.path.join(work, f"{a.workload}-{a.seed}.raw.json"), "w") as f:
        json.dump(raw, f)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)

    metrics = per_layer(raw) if a.trace else end_to_end(raw)
    print(json.dumps({
        "host": {k: raw["passes"][0][k] for k in ("nproc", "mem_total_mb")},
        "passes": [{k: p.get(k) for k in ("pass", "phase", "seconds", "load1", "ok", "jobs", "shuffle_write_bytes")}
                   for p in raw["passes"]],
        "setup_s": raw["setup_s"], "spans": raw["span_file"],
        "elapsed_s": time.time() - t0}))
    correct = raw["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
