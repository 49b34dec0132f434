"""Seeded input generators for the two benchmark workloads.

Every generator takes a ``random.Random`` built from ``--seed`` and the
workload's size table, and writes plain files (JSON lines and parquet)
under ``<run>/in``. The program only ever sees these files; the
checker reads the same files to compute its expected answers.
"""
import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

# Day 0 of every generated calendar (a Monday).
BASE_DAY = dt.datetime(2024, 3, 4)
EVENT_TYPES = ["play", "play", "play", "skip", "skip", "like", "pause",
               "seek", "error", ""]


def _write_parquet(path, columns, schema):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)


EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def _events(rng, n, day, n_users, first_id):
    """n listening events inside calendar day `day` (columns dict)."""
    t0 = BASE_DAY + dt.timedelta(days=day)
    cols = {k: [] for k in EVENT_SCHEMA.names}
    for i in range(n):
        # users follow a skewed popularity curve so loyalty/topN have
        # a head and a tail
        cols["event_id"].append(first_id + i)
        cols["ts"].append(t0 + dt.timedelta(seconds=rng.randrange(86400)))
        cols["user_id"].append(int(n_users * rng.random() ** 2) + 1)
        cols["event_type"].append(rng.choice(EVENT_TYPES))
        cols["value"].append(round(rng.uniform(1.0, 400.0), 2))
        cols["props"].append('{"k": %d}' % rng.randrange(10))
    return cols


def collect_etl(rng, out, size):
    """Collector drops (nested play docs, JSON lines) and daily ETL
    event batches with replayed duplicates."""
    n_tracks = size["tracks"]
    played = []  # docs of the previous drop, for the re-send share
    for d in range(size["drops"]):
        t0 = BASE_DAY + dt.timedelta(hours=2 * d)
        fresh = size["plays_per_drop"] - int(size["plays_per_drop"] *
                                             size["resend_share"])
        docs = list(rng.sample(played, min(len(played),
                                           size["plays_per_drop"] - fresh)))
        seen = set()
        for _ in range(fresh):
            tid = "t%05d" % rng.randrange(n_tracks)
            # distinct (track, played_at) inside a drop: a second play
            # of one track in the same millisecond is not a real play
            while True:
                at = t0 + dt.timedelta(milliseconds=rng.randrange(7200000))
                if (tid, at) not in seen:
                    break
            seen.add((tid, at))
            tn = int(tid[1:])
            docs.append({
                "track_id": tid,
                "played_at": at.isoformat(timespec="milliseconds") + "Z",
                "track_info": {
                    "name": "track %d" % tn,
                    "artists": ([{"id": "a%d" % (tn % 97),
                                  "name": "artist %d" % (tn % 97)}]
                                if tn % 13 else []),
                    "album": {"id": "al%d" % (tn % 211),
                              "name": "album %d" % (tn % 211)},
                    "duration_ms": 120000 + tn * 7 % 180000,
                    "explicit": tn % 5 == 0,
                    # popularity drifts per drop: the newest row must win
                    "popularity": (tn + 3 * d) % 100},
                "batch_info": {"batch_id": "drop-%02d" % d,
                               "collected_at": (t0 + dt.timedelta(hours=2))
                               .isoformat() + "Z"}})
        rng.shuffle(docs)
        path = os.path.join(out, "drops", "d%02d" % d)
        os.makedirs(path)
        with open(os.path.join(path, "part-0.json"), "w") as f:
            for doc in docs:
                f.write(json.dumps(doc, separators=(",", ":")) + "\n")
        played = docs

    prev = None
    next_id = 1
    for day in range(size["days"]):
        cols = _events(rng, size["events_per_day"], day, size["users"],
                       next_id)
        next_id += size["events_per_day"]
        n = size["events_per_day"]
        # in-batch duplicates: same (user_id, ts), another event_id and
        # value; the lowest event_id is the first arrival
        for _ in range(int(n * size["dup_share"])):
            j = rng.randrange(n)
            cols["event_id"].append(next_id if rng.random() < 0.5
                                    else -next_id)
            next_id += 1
            for k in ("ts", "user_id", "event_type", "props"):
                cols[k].append(cols[k][j])
            cols["value"].append(round(rng.uniform(1.0, 400.0), 2))
        # replays of the previous day's batch: already loaded, must add
        # nothing
        if prev is not None:
            for _ in range(int(n * size["replay_share"])):
                j = rng.randrange(len(prev["event_id"]))
                for k in EVENT_SCHEMA.names:
                    cols[k].append(prev[k][j])
        _write_parquet(os.path.join(out, "days", "day%02d.parquet" % day),
                       cols, EVENT_SCHEMA)
        prev = cols
    return {"drops": size["drops"], "days": size["days"]}


def dashboard(rng, out, size):
    """One event table spread over `days` calendar days."""
    cols = {k: [] for k in EVENT_SCHEMA.names}
    per_day = size["events"] // size["days"]
    for day in range(size["days"]):
        part = _events(rng, per_day, day, size["users"],
                       1 + day * per_day)
        for k in cols:
            cols[k].extend(part[k])
    _write_parquet(os.path.join(out, "events.parquet"), cols, EVENT_SCHEMA)
    last = BASE_DAY + dt.timedelta(days=size["days"] - 1)
    return {"end_date": last.date().isoformat(),
            "slice_days": size["slice_days"], "top_k": size["top_k"]}


GENERATORS = {"collect_etl": collect_etl, "dashboard": dashboard}
