#!/usr/bin/env python3
"""perfbench: one command for every workload of the repository benchmark.

    python3 perfbench/run.py --workload <ingest_steady|batch_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness into .bench_build/ (see build.py). Each run then generates its
inputs from the seed, starts one JVM with Spark in local[n] (n = at most 4
cores), sets up, times the workload, checks its outputs, and prints one
JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. --seconds is accepted and recorded; the work is fixed (see
SIZES). Everything a run leaves behind is under .bench_build/ and
.bench_out/ (see README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
TABLES = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "pins.json")
LOG_CONF = os.path.join(HERE, "log4j2.properties")
OUT = ".bench_out"
JVM_TIMEOUT_S = 170
# Spark task threads: at most 4, and one core fewer than the host has, so
# the Spark driver, JIT and GC threads do not queue behind the tasks.
CPUS = max(1, min(4, (os.cpu_count() or 1) - 1))

# Fixed work per workload, about 35-50 s of measurement on a 4-core host;
# the seed never changes it. ingest_steady: 450 payloads + 45 replays at 10
# files per trigger = 50 micro-batches (the state-store commit, not the
# sink, dominates each batch at this scale: see README.md). batch_mix:
# 10,000 NLP docs; its query mix is the set pins.json holds.
SIZES = {
    "ingest_steady": {"docs": 4500, "per_trigger": 10},
    "batch_mix": {"docs": 10000},
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def units():
    """{metric: unit} for the end-to-end and the per-layer metrics."""
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def run_jvm(classes, jars, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # A fixed, pre-touched heap: peak RSS then moves with the program's
    # native and off-heap memory, not with the collector's sizing choices.
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + LOG_CONF,
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"] + args
    # The JVM's own output goes to stderr: stdout carries only the result.
    return subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=JVM_TIMEOUT_S).returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes, jars = build.ensure()
    e2e_units, layer_units = units()
    setup_start = time.time()   # set-up time starts after the build check
    sizes = SIZES[a.workload]
    work = os.path.abspath(os.path.join(
        ".bench_build", "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    manifest = gen.generate(a.workload, inputs, a.seed, sizes["docs"])
    out_json = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--cpus", str(CPUS), "--inputs", inputs, "--work", work, "--tables", TABLES,
            "--pins", PINS, "--out", out_json]
    for k, v in sizes.items():
        args += ["--size." + k, str(v)]
    try:
        rc = run_jvm(classes, jars, args, work)
        jvm_exit = time.time()
        if rc != 0 or not os.path.exists(out_json):
            sys.exit("perfbench: the benchmark JVM failed (exit %s)" % rc)
        with open(out_json) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result["jvm_exit_epoch_ms"] = jvm_exit * 1000.0
    report(a, result, manifest, setup_start, e2e_units, layer_units)


def report(a, result, manifest, setup_start, e2e_units, layer_units):
    op_spans = metrics.ops(result)
    attempted, failed, share = metrics.failed_share(
        [s["ok"] for s in op_spans], [c["ok"] for c in result["checks"]])
    e2e = metrics.end_to_end(result, manifest["docs"])
    e2e["setup_s"] = result["first_timed_op_epoch_ms"] / 1000.0 - setup_start
    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "trace_id": result["trace_id"], "cpus": result["cpus"], "inputs": manifest,
        "attempted": attempted, "failed": failed, "failed_share": share,
        "end_to_end": e2e, "by_phase": metrics.by_phase(result),
        "percentiles": metrics.percentile_notes(result),
        "setup_parts_s": {
            "inputs_and_jvm": result["jvm_start_epoch_ms"] / 1000.0 - setup_start,
            "jvm_to_session": (result["session_ready_epoch_ms"] - result["jvm_start_epoch_ms"]) / 1000.0,
            "session_to_first_op": (result["first_timed_op_epoch_ms"]
                                    - result["session_ready_epoch_ms"]) / 1000.0},
        "jvm_stop_s": (result["jvm_exit_epoch_ms"] - result["result_epoch_ms"]) / 1000.0,
        "measure_steal_s": metrics.measure_steal_s(result),
        "checks": result["checks"], "sentinel_ms": [
            s["end_ms"] - s["start_ms"] for s in result["spans"] if s["name"] == "sentinel"],
        "ops": [{"name": s["name"], "ok": s["ok"], "wall_ms": s["end_ms"] - s["start_ms"]}
                for s in sorted(op_spans, key=lambda s: s["start_ms"])],
        "progress": metrics.batches(result),
    }
    if a.trace:
        layer = metrics.per_layer(result)
        artifact.update(per_layer=layer, self_ms_by_layer=metrics.layer_self_ms(result),
                        sink_series=metrics.sink_series(metrics.measured(result)),
                        spans=result["spans"])
        untraced = os.path.join(OUT, a.workload, "seed%d-trace0.json" % a.seed)
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            artifact["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
        shown = {k: (layer[k], u) for k, u in layer_units.items()}
    else:
        shown = {k: (e2e[k], u) for k, u in e2e_units.items()}
    os.makedirs(os.path.join(OUT, a.workload), exist_ok=True)
    with open(os.path.join(OUT, a.workload, "seed%d-trace%d.json" % (a.seed, a.trace)), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    for c in result["checks"]:
        if not c["ok"]:
            print("perfbench: check failed: %s (%s)" % (c["name"], c["detail"]), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))


if __name__ == "__main__":
    main()
