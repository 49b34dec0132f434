"""Listening-pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload collect_etl --seed 1 \
        --seconds 30 --trace 0

Builds the program from source (build.py, skipped when unchanged),
generates the workload's inputs from the seed (gen.py) into a fresh
directory under .bench_runs/, runs them in one fresh JVM
(scala/perfbench/Main.scala), checks the program's outputs against
independent computations (check.py) and prints, as the last line of
standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are the per-layer metrics, taken
from spans around every call into the program. The line before it
carries the workload-specific figures behind the end-to-end metrics.
The run directory is deleted at the end; --keep leaves it in place.
"""
import argparse
import collections
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

# Input sizes per workload; README.md explains each choice.
SIZES = {
    "collect_etl": {
        "drops": 4, "plays_per_drop": 2000, "resend_share": 0.25,
        "tracks": 3000,
        "days": 3, "events_per_day": 5000, "users": 2000,
        "dup_share": 0.02, "replay_share": 0.1},
    "dashboard": {
        "events": 120000, "days": 28, "users": 3000, "slice_days": 7,
        "top_k": 20, "refreshes": 3},
}

JVM_FLAGS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
# A fresh JVM spends most of a one-minute run in the JIT compiler:
# with both tiers, compile threads ran for 5-14 s inside a single timed
# operation and timings doubled from run to run. Holding the JIT at its
# first tier lets compilation finish during the warm-up; parallel GC
# has no concurrent GC threads; a large initial metaspace avoids the
# full collections Spark's generated classes otherwise trigger. At its
# first tier alone the JIT gets a 48 MB code cache, which the compiled
# generated classes filled within four refreshes; the refresh after
# that spent 60% more CPU while the cache was swept and code compiled
# again. 256 MB holds a whole run.
JVM_FLAGS += ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
              "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
              "-XX:-UsePerfData"]
HEAP = "2g"
# Spark task threads (local[k]). Under load from other tenants of the
# host, local[2] refreshes ran 8.0-9.2 s where local[4] ones ran
# 10.5-17 s in the same minutes: fewer threads leave more headroom.
CPUS = 2
JVM_TIMEOUT_S = 165


def log(msg):
    sys.stderr.write("[perfbench] %s\n" % msg)
    sys.stderr.flush()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_jvm(root, workload, run, seconds, trace, cpus):
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP] + JVM_FLAGS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + os.path.join(run, "spark"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(run, "warehouse"),
        "-Djava.io.tmpdir=" + os.path.join(run, "tmp"),
        "-cp", build.classpath(root), "perfbench.Main",
        workload, run, str(seconds), str(trace), str(cpus)]
    os.makedirs(os.path.join(run, "tmp"))
    with open(os.path.join(run, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run, stdout=logf, stderr=logf)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: the program run failed (%s)" % rc)
    with open(os.path.join(run, "jvm.json")) as f:
        return json.load(f)


def end_to_end(workload, jvm, facts):
    """The end-to-end metrics of BENCHMARK.json, and the
    workload-specific figures behind them (wall and CPU)."""
    # a kind whose every operation failed has no samples
    s = collections.defaultdict(list, jvm["samples"])
    c = collections.defaultdict(list, jvm["cpu_samples"])
    timed, cpu = jvm["timed_s"], jvm["cpu_s"]
    if workload == "collect_etl":
        first, second = "collect_drop", "etl_day"
        units = jvm["rounds"] * facts["input_rows"] / 1000.0
        named = {
            "collect_drop_s": median(s[first]),
            "etl_day_s": median(s[second]),
            "collect_drop_cpu_s": median(c[first]),
            "etl_day_cpu_s": median(c[second]),
            "collect_etl_events_per_s": 1000.0 * units / timed,
            "collect_etl_cpu_s_per_1k_events": cpu / units,
            "warehouse_bytes_per_event":
                jvm["facts"]["warehouse_bytes"] / facts["fact_rows"]}
        bytes_per_row = named["warehouse_bytes_per_event"]
    else:
        first, second = "panel", "refresh"
        units = jvm["rounds"] * SIZES[workload]["refreshes"]
        named = {
            "dashboard_query_s": median(s[first]),
            "dashboard_refresh_s": median(s[second]),
            "dashboard_query_cpu_s": median(c[first]),
            "dashboard_refresh_cpu_s": median(c[second]),
            "dashboard_cpu_s_per_refresh": cpu / units}
        bytes_per_row = jvm["facts"]["warehouse_bytes"] / facts["events"]
    metrics = {
        "op_cpu_s": median(c[first]), "batch_cpu_s": median(c[second]),
        "cpu_s_per_unit": cpu / units, "bytes_per_row": bytes_per_row}
    units_of = {"bytes_per_row": "bytes"}
    return ({k: {"value": v, "unit": units_of.get(k, "s")}
             for k, v in metrics.items()}, named)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory")
    ap.add_argument("--root", default=os.path.dirname(HERE),
                    help="checkout whose program is measured (default: "
                         "the one holding this benchmark)")
    a = ap.parse_args(argv)

    root = os.path.abspath(a.root)
    build_s = build.build(root)
    # set-up is timed from process start with the build taken out
    t0 = T_START + build_s
    run = os.path.join(root, ".bench_runs",
                       "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "in"))
    try:
        size = SIZES[a.workload]
        params = dict(size)
        params.update(gen.GENERATORS[a.workload](
            random.Random(a.seed), os.path.join(run, "in"), size))
        with open(os.path.join(run, "in", "params.json"), "w") as f:
            json.dump(params, f)
        cpus = min(CPUS, os.cpu_count() or 1)
        log("%s seed=%d: inputs ready, starting the program" %
            (a.workload, a.seed))
        jvm = run_jvm(root, a.workload, run, a.seconds, a.trace, cpus)
        setup_s = jvm["setup_end_ms"] / 1000.0 - t0
        failures, facts = check.CHECKS[a.workload](run, params, jvm)
        for msg in failures:
            log("CHECK FAILED: " + msg)
        if a.trace:
            metrics = layers.per_layer(a.workload, jvm, facts)
            out = os.path.join(root, ".bench_out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, "trace-%s-%d.json" %
                                   (a.workload, a.seed)), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "per_layer": metrics, "spans": jvm["spans"]}, f)
        else:
            metrics, named = end_to_end(a.workload, jvm, facts)
            metrics["setup_s"] = {"value": setup_s, "unit": "s"}
            named["setup_s"] = setup_s
            print(json.dumps({
                "workload": a.workload, "seed": a.seed,
                "rounds": jvm["rounds"], "timed_s": jvm["timed_s"],
                "named": named,
                "samples": {k: [min(v), median(v), max(v), len(v)]
                            for k, v in jvm["samples"].items()}}))
        print(json.dumps({"correct": not failures,
                          "attempted": jvm["attempted"],
                          "failed": jvm["failed"], "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
