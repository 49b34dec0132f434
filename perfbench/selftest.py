"""Shows that every correctness check fails on a corrupted output.

    python3 perfbench/selftest.py [--seed N]

Runs each workload once (short, untraced) keeping its run directory,
confirms the checks pass on the program's real outputs, then for each
check corrupts one output file in a copy of the run directory (one row
added, dropped or changed) and confirms that this check, by name,
reports a failure. Exits non-zero if any corruption goes unnoticed.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

ROOT = os.path.dirname(HERE)


def bump(col, by="1"):
    """Change `col` in the first row of the file."""
    return ("SELECT * EXCLUDE (rn_) REPLACE (CASE WHEN rn_ = 1 THEN %s + %s "
            "ELSE %s END AS %s) FROM (SELECT *, row_number() OVER () AS rn_ "
            "FROM t)" % (col, by, col, col))


ADD_ROW = "SELECT * FROM t UNION ALL (SELECT * FROM t LIMIT 1)"
DROP_ROW = "SELECT * FROM t OFFSET 1"

# (workload, output directory under out/, corruption, check that must fail)
MUTATIONS = [
    ("collect_etl", "zone/plays", ADD_ROW, "plays"),
    ("collect_etl", "zone/catalog", bump("popularity"), "track catalog"),
    ("collect_etl", "zone/ledger", bump("records_seen"), "play ledger"),
    ("collect_etl", "wh/fact", DROP_ROW, "fact"),
    ("collect_etl", "wh/fact", ADD_ROW, "conservation"),
    ("collect_etl", "wh/daily_stats", bump("unique_users"), "daily stats"),
    ("collect_etl", "wh/dim_users", bump("total_events"), "conservation"),
    ("collect_etl", "wh/dim_types", bump("total_events"), "conservation"),
    ("dashboard", "panels/heatmap", bump("n_events"), "heatmap cells"),
    ("dashboard", "panels/hour_ratio", bump("pct_of_day", "0.5"), "hour ratio"),
] + [("dashboard", "panels/" + p, DROP_ROW, "panel " + p)
     for p in check.PANELS] + [
    ("dashboard", "panels/radar", bump("stddev_value", "1e-6"), "panel radar"),
    ("dashboard", "panels/loyalty", bump("loyalty_ratio", "0.001"),
     "panel loyalty"),
    ("dashboard", "panels/sessions", bump("n_events"), "panel sessions"),
    ("dashboard", "panels/daily_stats", bump("total_value", "0.01"),
     "panel daily_stats"),
]


def corrupt(run, rel, sql):
    """Rewrite the first data file of out/<rel> through `sql` over t."""
    path = sorted(glob.glob(os.path.join(run, "out", rel, "**", "*.parquet"),
                            recursive=True))[0]
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql("CREATE TABLE t AS SELECT * FROM read_parquet('%s')" % path)
    con.sql("COPY (%s) TO '%s.new' (FORMAT PARQUET)" % (sql, path))
    os.replace(path + ".new", path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    bad = 0
    for workload in check.CHECKS:
        before = set(glob.glob(os.path.join(ROOT, ".bench_runs", "*")))
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", workload, "--seed", str(a.seed),
                            "--seconds", "1", "--keep"],
                           stdout=subprocess.PIPE, text=True)
        run = (set(glob.glob(os.path.join(ROOT, ".bench_runs", "*"))) -
               before).pop()
        try:
            if r.returncode != 0 or not json.loads(
                    r.stdout.strip().splitlines()[-1])["correct"]:
                print("FAIL %s: the unmodified run does not pass" % workload)
                bad += 1
                continue
            with open(os.path.join(run, "in", "params.json")) as f:
                params = json.load(f)
            for w, rel, sql, name in MUTATIONS:
                if w != workload:
                    continue
                copy = run + ".mut"
                shutil.rmtree(copy, ignore_errors=True)
                shutil.copytree(run, copy)
                corrupt(copy, rel, sql)
                failures, _ = check.CHECKS[w](copy, params, None)
                caught = [m for m in failures if m.startswith(name)]
                print("%s %-12s %-22s -> %s" % (
                    "ok  " if caught else "FAIL", w, rel,
                    caught[0][:90] if caught else "not caught"))
                bad += not caught
                shutil.rmtree(copy)
        finally:
            shutil.rmtree(run, ignore_errors=True)
    print("%d corruption(s) not caught" % bad)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
