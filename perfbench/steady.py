"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py --workload collect_etl --runs 10
    python3 perfbench/steady.py --workload dashboard --runs 5 --overhead

Runs one workload --runs times, each with another seed, and prints for
each end-to-end metric its median, first and third quartile
(statistics.quantiles, n=4) and the spread (q3 - q1) / median, next to
the bound BENCHMARK.json allows, plus the share of failed operations.
--overhead also makes a traced run right after each untraced one, with
the same seed, and reports the tracing overhead of the workload's two
operation kinds: per seed, the traced wall median over the untraced
one, summarised as the median and quartiles of those ratios.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, trace, root=None):
    """One run of BENCHMARK.json's run_seconds; returns its result line
    and, untraced, the detail line before it (None when traced)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds",
           str(benchmark()["run_seconds"]), "--trace", str(trace)]
    if root:
        cmd += ["--root", root]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    if r.returncode != 0:
        raise SystemExit("run failed: %s seed %d" % (workload, seed))
    lines = [json.loads(x) for x in r.stdout.strip().splitlines()]
    return lines[-1], (None if trace else lines[-2])


# untraced wall medians the traced tracing.op_s / tracing.batch_s match
WALL = {"collect_etl": ("collect_drop_s", "etl_day_s"),
        "dashboard": ("dashboard_query_s", "dashboard_refresh_s")}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    vals, wall, traced, failed = {}, {}, {}, set()
    for i in range(a.runs):
        seed = a.seed_base + i
        res, detail = run_once(a.workload, seed, 0)
        if not res["correct"]:
            raise SystemExit("incorrect output: seed %d" % seed)
        failed.add(res["failed"] / res["attempted"])
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
        for k, v in detail["named"].items():
            wall.setdefault(k, []).append(v)
        if a.overhead:
            t = run_once(a.workload, seed, 1)[0]["metrics"]
            for k, name in zip(("op_s", "batch_s"), WALL[a.workload]):
                traced.setdefault(name, []).append(
                    t["tracing." + k]["value"] / detail["named"][name])
        print("run %d seed %d: %s" % (i + 1, seed, json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()})),
            flush=True)
    b = {m["name"]: m["bound"] for m in benchmark()["end_to_end"]}
    print("%-18s %12s %12s %12s %8s %6s" %
          ("metric", "median", "q1", "q3", "spread", "bound"))
    for k, vs in vals.items():
        med, q1, q3, spread = summary(vs)
        print("%-18s %12.5g %12.5g %12.5g %8.3f %6s" %
              (k, med, q1, q3, spread, b.get(k, "-")))
    print("failed share per run: %s" % sorted(failed))
    print("workload figures (not end-to-end metrics):")
    for k, vs in wall.items():
        med, q1, q3, spread = summary(vs)
        print("%-34s %12.5g %12.5g %12.5g %8.3f" % (k, med, q1, q3, spread))
    for k, vs in traced.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print("tracing overhead %s: traced / untraced per seed, median "
              "%+.1f%% [%+.1f%%, %+.1f%%]" %
              (k, 100 * (med - 1), 100 * (q1 - 1), 100 * (q3 - 1)))


if __name__ == "__main__":
    main()
