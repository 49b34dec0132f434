"""Per-layer metrics from the spans of a traced run.

A span is one call into the program (see Recorder.scala): name, start,
end, parent, and the Spark counts of the jobs it launched itself.
Every traced run prints the same metric names; a layer that the
workload does not run reads 0.
"""
import statistics

PANELS = ("heatmap", "hour_ratio", "radar", "loyalty", "top_users",
          "discovery_weekly", "cohort_retention", "sessions", "daily_stats")
OPS = ("collect_drop", "etl_day", "panel", "refresh")

# name -> unit, in print order
UNITS = {"sources.rows_read_per_drop_row": "rows/row"}
UNITS.update({"ingest." + m: u for m, u in (
    ("jobs_per_drop", "count"), ("task_cpu_s_per_drop", "s"),
    ("shuffle_rows_per_drop", "rows"), ("self_s_per_drop", "s"))})
UNITS.update({"etl." + m: u for m, u in (
    ("jobs_per_day", "count"), ("task_cpu_s_per_day", "s"),
    ("rows_read_per_batch_row", "rows/row"), ("pinned_bytes_per_day", "bytes"),
    ("self_s_per_day", "s"))})
UNITS.update({"warehouse." + m: u for m, u in (
    ("publish_s_per_day", "s"), ("bytes_written_per_day", "bytes"),
    ("files_written_per_day", "count"), ("files_listed_per_query", "count"))})
for p in PANELS:
    UNITS.update({"analytics.%s.%s" % (p, m): u for m, u in (
        ("self_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"),
        ("shuffle_rows", "rows"), ("rows_scanned_per_output_row", "rows/row"))})
for o in OPS:
    UNITS.update({"engine.%s.%s" % (o, m): u for m, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("gc_s", "s"), ("jit_compile_s", "s"), ("codegen_compiles", "count"))})
UNITS.update({"tracing.op_s": "s", "tracing.batch_s": "s"})


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload, jvm, facts):
    spans = {s["id"]: s for s in jvm["spans"]}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)

    def total(s, key):
        """Counter summed over the span and everything under it."""
        return s[key] + sum(total(k, key) for k in kids.get(s["id"], []))

    def named(name):
        return [s for s in spans.values() if s["name"] == name]

    def child(s, name):
        return next(k for k in kids.get(s["id"], []) if k["name"] == name)

    def per(spans_, key):
        return _mean([total(s, key) for s in spans_])

    m = dict.fromkeys(UNITS, 0.0)
    drops, days = named("collect_drop"), named("etl_day")
    rounds = jvm["rounds"]
    if drops:
        ingest = [child(s, "ingest") for s in drops]
        m["sources.rows_read_per_drop_row"] = (
            sum(total(s, "records_read") for s in drops) /
            (rounds * facts["drop_rows"]))
        m["ingest.jobs_per_drop"] = per(drops, "jobs")
        m["ingest.task_cpu_s_per_drop"] = per(drops, "task_cpu_s")
        m["ingest.shuffle_rows_per_drop"] = per(drops, "shuffle_read_rows")
        m["ingest.self_s_per_drop"] = _mean([s["self_s"] for s in ingest])
    if days:
        etl = [child(s, "etl") for s in days]
        wh = [child(s, "warehouse") for s in days]
        m["etl.jobs_per_day"] = per(etl, "jobs")
        m["etl.task_cpu_s_per_day"] = per(etl, "task_cpu_s")
        m["etl.rows_read_per_batch_row"] = (
            sum(total(s, "records_read") for s in etl) /
            (rounds * facts["batch_rows"]))
        m["etl.pinned_bytes_per_day"] = _mean(
            [s["extra"]["pinned_bytes"] for s in etl])
        m["etl.self_s_per_day"] = _mean([s["self_s"] for s in etl])
        m["warehouse.publish_s_per_day"] = _mean(
            [s["end_s"] - s["start_s"] for s in wh])
        m["warehouse.bytes_written_per_day"] = per(wh, "bytes_written")
        m["warehouse.files_written_per_day"] = _mean(
            [s["extra"]["files"] for s in days])
    refreshes = named("refresh")
    if refreshes:
        reads = [child(s, "warehouse") for s in refreshes]
        m["warehouse.files_listed_per_query"] = _mean(
            [r["extra"]["files"] / (len(kids[s["id"]]) - 1)
             for s, r in zip(refreshes, reads)])
        for p in PANELS:
            calls = named(p)
            pre = "analytics.%s." % p
            m[pre + "self_s"] = _mean([s["self_s"] for s in calls])
            m[pre + "jobs"] = per(calls, "jobs")
            m[pre + "task_cpu_s"] = per(calls, "task_cpu_s")
            m[pre + "shuffle_rows"] = per(calls, "shuffle_read_rows")
            m[pre + "rows_scanned_per_output_row"] = _mean(
                [total(s, "records_read") / max(1, s["extra"]["output_rows"])
                 for s in calls])
    for o in OPS:
        calls = named(o)
        for c in ("jobs", "stages", "tasks", "gc_s", "jit_compile_s",
                  "codegen_compiles"):
            m["engine.%s.%s" % (o, c)] = per(calls, c)
    first, second = (drops, days) if drops else (named("panel"), refreshes)
    dur = lambda ss: statistics.median([s["end_s"] - s["start_s"] for s in ss])
    m["tracing.op_s"] = dur(first)
    m["tracing.batch_s"] = dur(second)
    return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}
