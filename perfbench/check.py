"""Independent correctness checks: DuckDB SQL written for the benchmark
(not the program's oracle SQL) over the generated inputs, compared with
what the program wrote under <run>/out.

Each check function returns (failures, facts): failures is a list of
messages (empty when every check passes); facts are the counts the
metrics are normalised by (input rows, fact rows, events).
"""
import datetime as dt
import decimal
import math
import os

import duckdb

# Doubles the program surfaces are single divisions of exact integers,
# so they should match to the last bit; the tolerance only absorbs
# printing and engine differences in sqrt.
REL_TOL = 1e-9


def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _rows(con, sql):
    return sorted((tuple(_norm(v) for v in r) for r in con.sql(sql).fetchall()),
                  key=lambda r: tuple((x is None, str(x)) for x in r))


def compare(con, name, got_sql, want_sql, failures):
    """Sorted row-by-row comparison of two queries' results."""
    got, want = _rows(con, got_sql), _rows(con, want_sql)
    if len(got) != len(want):
        failures.append("%s: %d rows, expected %d" % (name, len(got), len(want)))
        return
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            failures.append("%s: row %r, expected %r" % (name, g, w))
            return


def _one(con, sql):
    return con.sql(sql).fetchone()[0]


def _pq(path):
    return "read_parquet('%s/**/*.parquet', hive_partitioning = true)" % path


# -- collect_etl ----------------------------------------------------------

def collect_etl(run, params, jvm):
    i, o = os.path.join(run, "in"), os.path.join(run, "out")
    con = duckdb.connect()
    f = []
    con.sql("""CREATE TABLE docs AS SELECT
          track_id, played_at, filename AS src,
          track_info.name AS track_name,
          coalesce(track_info.artists[1].name, 'Unknown Artist') AS artist_name,
          coalesce(track_info.album.name, 'Unknown Album') AS album_name,
          track_info.duration_ms AS duration_ms,
          coalesce(track_info.popularity, 0) AS popularity
        FROM read_json('%s/drops/*/*.json', filename = true, columns = {
          track_id: 'VARCHAR', played_at: 'VARCHAR',
          track_info: 'STRUCT(name VARCHAR, artists STRUCT(id VARCHAR, name VARCHAR)[],
            album STRUCT(id VARCHAR, name VARCHAR), duration_ms BIGINT,
            explicit BOOLEAN, popularity INTEGER)',
          batch_info: 'STRUCT(batch_id VARCHAR, collected_at VARCHAR)'})
    """ % i)
    con.sql("CREATE TABLE events AS SELECT *, filename AS src FROM "
            "read_parquet('%s/days/*.parquet', filename = true)" % i)

    # plays: one row per distinct (track_id, played_at); re-sent docs add
    # nothing
    want = _one(con, "SELECT count(*) FROM (SELECT DISTINCT track_id, "
                     "played_at FROM docs)")
    got = _one(con, "SELECT count(*) FROM %s" % _pq(o + "/zone/plays"))
    if got != want:
        f.append("plays: %d rows, expected %d distinct (track_id, played_at)"
                 % (got, want))
    if _one(con, "SELECT count(*) FROM docs") == want:
        f.append("plays: the generated drops re-send nothing")
    # catalog: per track, the newest row (latest played_at) of the latest
    # drop that carried it
    compare(con, "track catalog",
            "SELECT track_id, track_name, artist_name, album_name, "
            "duration_ms, popularity FROM %s" % _pq(o + "/zone/catalog"),
            """SELECT track_id, track_name, artist_name, album_name,
                 duration_ms, popularity FROM (
               SELECT *, row_number() OVER (PARTITION BY track_id
                 ORDER BY src DESC, played_at DESC) AS rn FROM docs)
               WHERE rn = 1""", f)
    compare(con, "play ledger",
            "SELECT batch_id, records_seen, unique_tracks FROM %s"
            % _pq(o + "/zone/ledger"),
            """SELECT 'drop-' || regexp_extract(src, '/d([0-9]+)/', 1),
                 count(*), count(DISTINCT track_id) FROM docs GROUP BY src""",
            f)

    # ETL: first arrival wins per (user_id, ts): earliest day file, then
    # lowest event_id
    con.sql("""CREATE TABLE firsts AS SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, ts
          ORDER BY src, event_id) AS rn FROM events) WHERE rn = 1""")
    fact_rows = _one(con, "SELECT count(*) FROM %s" % _pq(o + "/wh/fact"))
    want = _one(con, "SELECT count(*) FROM firsts")
    if fact_rows != want:
        f.append("fact: %d rows, expected %d first arrivals" % (fact_rows, want))
    if _one(con, "SELECT count(*) FROM events") == want:
        f.append("fact: the generated batches replay nothing")
    compare(con, "daily stats",
            "SELECT event_date, total_events, unique_users, "
            "CAST(round(total_value * 100) AS BIGINT) FROM %s"
            % _pq(o + "/wh/daily_stats"),
            """SELECT CAST(ts AS DATE), count(*), count(DISTINCT user_id),
                 CAST(sum(round(value * 100)) AS BIGINT)
               FROM firsts GROUP BY 1""", f)
    totals = [
        _one(con, "SELECT sum(total_events) FROM %s" % _pq(o + "/wh/daily_stats")),
        fact_rows,
        _one(con, "SELECT sum(total_events) FROM %s" % _pq(o + "/wh/dim_users")),
        _one(con, "SELECT sum(total_events) FROM %s" % _pq(o + "/wh/dim_types"))]
    if len(set(totals)) != 1:
        f.append("conservation: daily stats %s, fact %s, dim users %s, "
                 "dim types %s events" % tuple(totals))
    facts = {"drop_rows": _one(con, "SELECT count(*) FROM docs"),
             "batch_rows": _one(con, "SELECT count(*) FROM events"),
             "fact_rows": fact_rows}
    facts["input_rows"] = facts["drop_rows"] + facts["batch_rows"]
    return f, facts


# -- dashboard ------------------------------------------------------------

# The cleaned view, derived here from the raw generated events.
CLEAN = """CREATE TABLE c AS SELECT
    event_id, user_id, ts, CAST(ts AS DATE) AS d, hour(ts) AS h,
    dayofweek(ts) AS dow, dayname(ts) AS day_name,
    CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 'morning'
         WHEN hour(ts) BETWEEN 12 AND 17 THEN 'afternoon'
         WHEN hour(ts) BETWEEN 18 AND 23 THEN 'evening'
         ELSE 'night' END AS period,
    coalesce(nullif(trim(event_type), ''), 'unknown') AS etype,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM read_parquet('%s')"""

PANELS = {
    "heatmap": """
      WITH hours AS (SELECT unnest(generate_series(
          (SELECT date_trunc('hour', min(ts)) FROM c),
          (SELECT max(ts) FROM c), INTERVAL 1 HOUR)) AS hh),
      agg AS (SELECT d, h, count(*) AS n, sum(cents) AS s FROM c GROUP BY d, h)
      SELECT CAST(hh AS DATE), hour(hh), coalesce(n, 0),
             coalesce(s, 0) / 100.0
      FROM hours LEFT JOIN agg ON agg.d = CAST(hh AS DATE) AND agg.h = hour(hh)""",
    "hour_ratio": """
      SELECT dow, day_name, period, count(*), sum(cents) / 100.0,
             sum(cents) * 100.0 / sum(sum(cents)) OVER (PARTITION BY dow)
      FROM c GROUP BY dow, day_name, period""",
    "radar": """
      SELECT CASE WHEN dow IN (0, 6) THEN 'Weekend' ELSE 'Weekday' END AS t,
             count(*), sum(cents) / 100.0, sum(cents) / 100.0 / count(*),
             count(DISTINCT user_id), count(DISTINCT etype), count(DISTINCT d),
             count(*) FILTER (WHERE etype = 'error'),
             100.0 * count(*) FILTER (WHERE h BETWEEN 6 AND 18) / count(*),
             sqrt((CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
                   - CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)
                     / count(*)) / (count(*) - 1)) / 100.0
      FROM c GROUP BY t""",
    "loyalty": """
      SELECT user_id, n, days, first_d, last_d, span,
             ((2000 * days + span) // (2 * span)) / 1000.0,
             ((200 * n + span) // (2 * span)) / 100.0
      FROM (SELECT user_id, count(*) AS n, count(DISTINCT d) AS days,
                   min(d) AS first_d, max(d) AS last_d,
                   datediff('day', min(d), max(d)) + 1 AS span
            FROM c GROUP BY user_id HAVING count(*) >= 3)
      ORDER BY (2000 * days + span) // (2 * span) DESC, n DESC, user_id
      LIMIT 100""",
    "top_users": """
      SELECT user_id, count(*), sum(cents) / 100.0 FROM c GROUP BY user_id
      ORDER BY count(*) DESC, user_id LIMIT {top_k}""",
    "discovery_weekly": """
      SELECT CAST(floor(datediff('day', DATE '2000-01-01', f) / 7) AS BIGINT)
               AS wk, min(f), count(*)
      FROM (SELECT min(d) AS f FROM c GROUP BY user_id) GROUP BY wk""",
    "cohort_retention": """
      WITH firsts AS (SELECT user_id, min(d) AS f FROM c GROUP BY user_id),
      act AS (SELECT DISTINCT c.user_id, f,
                     datediff('day', f, d) // 7 AS wk
              FROM c JOIN firsts USING (user_id)),
      cnt AS (SELECT f, wk, count(*) AS n FROM act GROUP BY f, wk)
      SELECT cnt.f, cnt.wk, cnt.n, z.n, cnt.n * 1000 // z.n
      FROM cnt JOIN cnt z ON z.f = cnt.f AND z.wk = 0""",
    "sessions": """
      WITH g AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                   THEN 1 ELSE 0 END AS brk
                 FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
            FROM g)
      SELECT user_id, sn, min(ts), max(ts), count(*), sum(cents) / 100.0
      FROM s GROUP BY user_id, sn""",
    "daily_stats": """
      WITH base AS (SELECT d, count(*) AS n, sum(cents) AS s,
             count(*) FILTER (WHERE period = 'morning') AS m,
             count(*) FILTER (WHERE period = 'afternoon') AS a,
             count(*) FILTER (WHERE period = 'evening') AS e,
             count(*) FILTER (WHERE period = 'night') AS ni,
             count(DISTINCT etype) AS ut, count(DISTINCT user_id) AS uu
           FROM c GROUP BY d),
      tt AS (SELECT d, etype FROM (SELECT d, etype, row_number() OVER (
               PARTITION BY d ORDER BY count(*) DESC, etype) AS r
             FROM c GROUP BY d, etype) WHERE r = 1),
      tu AS (SELECT d, user_id FROM (SELECT d, user_id, row_number() OVER (
               PARTITION BY d ORDER BY count(*) DESC, user_id) AS r
             FROM c GROUP BY d, user_id) WHERE r = 1)
      SELECT base.d, n, m, a, e, ni, ut, tt.etype, uu, tu.user_id, s / 100.0
      FROM base JOIN tt USING (d) JOIN tu USING (d)""",
    "last_days": """
      SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER), count(*), sum(cents)
      FROM c WHERE d > DATE '{end_date}' - {slice_days} GROUP BY d""",
}

# Program output columns, in the order of the SQL above.
PANEL_COLUMNS = {
    "heatmap": "grid_date, grid_hour, n_events, total_value",
    "hour_ratio": "pg_dow, day_name, time_period, n_events, total_value, "
                  "pct_of_day",
    "radar": "day_type, n_events, total_value, avg_value, unique_users, "
             "unique_types, active_days, error_events, pct_daytime, "
             "stddev_value",
    "loyalty": "user_id, total_events, active_days, first_date, last_date, "
               "span_days, loyalty_ratio, avg_events_per_day",
    "top_users": "user_id, n_events, total_value",
    "discovery_weekly": "week_bucket, week_start, new_users",
    "cohort_retention": "cohort_date, week_offset, n_users, cohort_size, "
                        "retention_permille",
    "sessions": "user_id, session_no, session_start, session_end, n_events, "
                "total_value",
    "daily_stats": "event_date, total_events, morning_events, "
                   "afternoon_events, evening_events, night_events, "
                   "unique_types, top_type, unique_users, top_user, "
                   "total_value",
    "last_days": "date_key, n_events, value_cents",
}


def dashboard(run, params, jvm):
    i, o = os.path.join(run, "in"), os.path.join(run, "out")
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(CLEAN % os.path.join(i, "events.parquet"))
    f = []
    # a panel whose every call failed has no output
    panel = {name: os.path.join(o, "panels", name) for name in PANELS}
    missing = {name for name, d in panel.items() if not os.path.isdir(d)}
    f += ["panel %s: no output" % name for name in sorted(missing)]
    for name, sql in PANELS.items():
        if name not in missing:
            got = "SELECT %s FROM %s" % (PANEL_COLUMNS[name], _pq(panel[name]))
            compare(con, "panel " + name, got, sql.format(**params), f)
    n = _one(con, "SELECT count(*) FROM c")
    if "heatmap" not in missing:
        heat = _one(con, "SELECT sum(n_events) FROM %s" % _pq(panel["heatmap"]))
        if heat != n:
            f.append("heatmap cells sum to %s events, expected %d" % (heat, n))
    if "hour_ratio" not in missing:
        for dow, share in con.sql(
                "SELECT pg_dow, sum(pct_of_day) / 100.0 FROM %s GROUP BY 1"
                % _pq(panel["hour_ratio"])).fetchall():
            if not math.isclose(share, 1.0, rel_tol=1e-9):
                f.append("hour ratio: day %s shares sum to %r" % (dow, share))
    return f, {"events": n}


CHECKS = {"collect_etl": collect_etl, "dashboard": dashboard}
