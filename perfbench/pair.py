"""Paired A/B comparison of two checkouts with the same benchmark code.

    python3 perfbench/pair.py --base ../parent --change . --pairs 10

Runs this directory's benchmark against the program sources of the two
checkouts, alternating which side runs first in each pair and giving
both sides of a pair the same seed. For every workload and end-to-end
metric it prints each side's median and quartiles, the change's win
share (ties count for neither side) and a verdict by the claim rule:

  gain        the change wins at least 90% of the pairs, the medians
              differ by more than the base's interquartile range, and
              no larger share of operations fails than on the base;
  regression  the change's median is worse than the base's by more
              than the metric's bound in BENCHMARK.json;
  unresolved  the base's own spread is wider than the bound and the
              change neither wins nor loses every pair;
  same        otherwise.
"""
import argparse
import os
import statistics

from steady import benchmark, run_once


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--seed-base", type=int, default=500)
    a = ap.parse_args()
    bench = benchmark()
    spec = {m["name"]: m for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    roots = {"base": os.path.abspath(a.base),
             "change": os.path.abspath(a.change)}
    for w in workloads:
        vals = {"base": {}, "change": {}}
        failed = {"base": [0, 0], "change": [0, 0]}  # failed, attempted
        for i in range(a.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                res, _ = run_once(w, a.seed_base + i, 0, roots[side])
                if not res["correct"]:
                    raise SystemExit("%s: incorrect output (%s, pair %d)"
                                     % (w, side, i))
                failed[side][0] += res["failed"]
                failed[side][1] += res["attempted"]
                for k, v in res["metrics"].items():
                    vals[side].setdefault(k, []).append(v["value"])
        share = {k: f / n for k, (f, n) in failed.items()}
        print("== %s (%d pairs), failed operations: base %d/%d, change %d/%d"
              % ((w, a.pairs) + tuple(failed["base"] + failed["change"])))
        for k, m in spec.items():
            b, c = vals["base"][k], vals["change"][k]
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(sign * (x - y) > 0 for x, y in zip(b, c))
            losses = sum(sign * (x - y) < 0 for x, y in zip(b, c))
            bq1, bmed, bq3 = statistics.quantiles(b, n=4)
            cq1, cmed, cq3 = statistics.quantiles(c, n=4)
            worse = sign * (cmed - bmed) / bmed
            if wins >= 0.9 * len(b) and abs(cmed - bmed) > bq3 - bq1 \
                    and share["change"] <= share["base"]:
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif (bq3 - bq1) / bmed > m["bound"] and 0 < wins < len(b) \
                    and losses:
                verdict = "unresolved"
            else:
                verdict = "same"
            print("%-16s base %.4g [%.4g, %.4g]  change %.4g [%.4g, %.4g]  "
                  "wins %d/%d  %s" % (k, bmed, bq1, bq3, cmed, cq1, cq3, wins,
                                      len(b), verdict))


if __name__ == "__main__":
    main()
