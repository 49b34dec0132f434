package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Relational, Sql, StarSchema}

/** One registered query: the Spark implementation plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL the driver runs
  * against the same parquet tables. Column names/types are aligned
  * between both sides — the driver sorts columns by name and hashes
  * values, so every computed column is aliased identically.
  *
  * Determinism rules used throughout (see TimeFns):
  *  - money/metric doubles are aggregated as exact decimals or integer
  *    cents and surfaced as double (exact -> bit-identical);
  *  - ratios are a single IEEE division of exact values;
  *  - every top-k has a total-order tie-break.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object Suite {

  private def clean(s: SparkSession, dir: String): DataFrame =
    StarSchema.clean(Tables(s, dir).events)

  /** Body of the clean CTE mirroring [[StarSchema.clean]], over a
    * caller-chosen source relation (the raw table, or a deduped view of
    * it for pipeline-shaped oracles). */
  private def cleanBody(src: String): String =
    s"""clean AS (
      |  SELECT
      |    event_id, user_id, ts,
      |    CAST(ts AS DATE) AS event_date,
      |    CAST(EXTRACT(hour FROM ts) AS INTEGER) AS event_hour,
      |    CAST(dayofweek(CAST(ts AS DATE)) AS INTEGER) AS pg_dow,
      |    dayname(CAST(ts AS DATE)) AS day_name,
      |    CASE WHEN EXTRACT(hour FROM ts) BETWEEN 6 AND 11 THEN 'morning'
      |         WHEN EXTRACT(hour FROM ts) BETWEEN 12 AND 17 THEN 'afternoon'
      |         WHEN EXTRACT(hour FROM ts) BETWEEN 18 AND 23 THEN 'evening'
      |         ELSE 'night' END AS time_period,
      |    dayofweek(CAST(ts AS DATE)) IN (0, 6) AS is_weekend,
      |    COALESCE(NULLIF(TRIM(event_type), ''), 'unknown') AS event_type,
      |    value,
      |    CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
      |    value / CAST(60.0 AS DOUBLE) AS duration_minutes,
      |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS prop_k,
      |    CAST(CASE WHEN event_type IS NULL OR TRIM(event_type) = '' THEN 0.5
      |              WHEN value IS NULL OR value < 10.0 THEN 0.7
      |              ELSE 1.0 END AS DOUBLE) AS quality_score,
      |    CASE WHEN event_type IS NULL OR TRIM(event_type) = '' THEN 'missing_type'
      |         WHEN value IS NULL OR value < 10.0 THEN 'short_duration'
      |         ELSE '' END AS quality_flag
      |  FROM $src
      |)""".stripMargin

  /** Shared oracle CTE over the raw events table. */
  private val CleanCte: String = "WITH " + cleanBody("events")

  /** Shared SCD Type-2 CTE ending in `scd2(user_key, user_id, status,
    * valid_from, valid_to, is_current, version_n)` — referenced by
    * BOTH etl_scd2_users and etl_scd2_lookup so the version-building
    * rules cannot drift between the dim and its point-in-time read. */
  private val Scd2Cte: String =
    s"""$CleanCte,
      |ordered AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         LAG(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS prev_type
      |  FROM clean),
      |chg AS (
      |  SELECT user_id, ts, event_id, event_type FROM ordered
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |scd2 AS (
      |  SELECT 'user_' || md5(CAST(user_id AS VARCHAR)) AS user_key,
      |         user_id, event_type AS status, ts AS valid_from,
      |         LEAD(ts) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS valid_to,
      |         LEAD(ts) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) IS NULL AS is_current,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS version_n
      |  FROM chg)""".stripMargin

  /** Shared lifecycle CTE (A6): per-user first-event-relative counts
    * plus the conversion/lifecycle CASE buckets — referenced by BOTH
    * an_lifecycle and an_sankey_links so a threshold change cannot
    * update one oracle and silently break the other. */
  private val LifecycleCte: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS event_date,
      |         MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_date
      |  FROM events),
      |g AS (
      |  SELECT user_id, first_date, COUNT(*) AS total_events,
      |         COUNT(CASE WHEN event_date - first_date = 0 THEN 1 END) AS day0_events,
      |         COUNT(CASE WHEN event_date - first_date BETWEEN 0 AND 7 THEN 1 END) AS week1_events,
      |         COUNT(CASE WHEN event_date - first_date BETWEEN 0 AND 30 THEN 1 END) AS month1_events,
      |         MAX(event_date) AS last_date
      |  FROM e GROUP BY 1, 2),
      |lc AS (
      |  SELECT *,
      |       CASE WHEN total_events = 1 THEN 'single'
      |            WHEN total_events <= 5 THEN 'casual'
      |            WHEN total_events <= 15 THEN 'regular'
      |            ELSE 'heavy' END AS conversion_category,
      |       CASE WHEN last_date - first_date <= 3 THEN 'burst'
      |            WHEN last_date - first_date <= 7 THEN 'week'
      |            WHEN last_date - first_date <= 14 THEN 'fortnight'
      |            ELSE 'sustained' END AS lifecycle_stage
      |  FROM g)""".stripMargin

  /** A4 daily-stats aggregation over a `clean` CTE — shared by the
    * direct StarSchema query and the EtlJob-pipeline variant so a
    * threshold change cannot update one oracle and miss the other. */
  private val DailyStatsBody: String =
    s"""base AS (
      |  SELECT event_date, COUNT(*) AS total_events,
      |         COUNT(DISTINCT user_id) AS unique_users,
      |         COUNT(DISTINCT event_type) AS unique_types,
      |         CAST(SUM(value_cents) AS BIGINT) AS cents,
      |         COUNT(CASE WHEN time_period='morning' THEN 1 END) AS morning_events,
      |         COUNT(CASE WHEN time_period='afternoon' THEN 1 END) AS afternoon_events,
      |         COUNT(CASE WHEN time_period='evening' THEN 1 END) AS evening_events,
      |         COUNT(CASE WHEN time_period='night' THEN 1 END) AS night_events
      |  FROM clean GROUP BY event_date),
      |tt AS (SELECT event_date, event_type AS top_type FROM (
      |  SELECT event_date, event_type,
      |         ROW_NUMBER() OVER (PARTITION BY event_date ORDER BY COUNT(*) DESC, event_type) AS rn
      |  FROM clean GROUP BY event_date, event_type) WHERE rn = 1),
      |tu AS (SELECT event_date, user_id AS top_user FROM (
      |  SELECT event_date, user_id,
      |         ROW_NUMBER() OVER (PARTITION BY event_date ORDER BY COUNT(*) DESC, user_id) AS rn
      |  FROM clean GROUP BY event_date, user_id) WHERE rn = 1)
      |SELECT b.event_date, b.total_events, b.unique_users, b.unique_types,
      |       b.morning_events, b.afternoon_events, b.evening_events, b.night_events,
      |       tt.top_type, tu.top_user,
      |       b.cents / CAST(100.0 AS DOUBLE) AS total_value
      |FROM base b JOIN tt USING (event_date) JOIN tu USING (event_date)""".stripMargin

  private val DailyStatsOracle: String = s"$CleanCte,\n$DailyStatsBody"

  /** The pipeline variant mirrors EtlJob's upsert-key collapse
    * STRUCTURALLY: events are deduped on (user_id, ts) keeping the
    * lowest event_id BEFORE cleaning/aggregating, so the oracle equals
    * the pipeline by construction even on inputs with duplicate keys
    * (not merely because the test data happens to have none). */
  private val DailyStatsOracleDeduped: String =
    s"""WITH dd AS (
      |  SELECT event_id, user_id, ts, event_type, value, props FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
      |      ORDER BY event_id) AS rn_dd FROM events) WHERE rn_dd = 1),
      |${cleanBody("dd")},
      |$DailyStatsBody""".stripMargin

  val all: Seq[Q] = Seq(
    // ---- ETL spine: P1+P2+P3 clean projection -------------------------
    Q("etl_clean_events",
      (s, d) => clean(s, d).drop("ts"),
      Some(s"""$CleanCte
        |SELECT event_id, user_id, event_date, event_hour, pg_dow, day_name,
        |       time_period, is_weekend, event_type, value, value_cents,
        |       duration_minutes, prop_k, quality_score, quality_flag
        |FROM clean""".stripMargin)),

    // ---- dims (J3 anti-join sync semantics, MD5 surrogates) -----------
    Q("etl_dim_users",
      (s, d) => StarSchema.dimUsers(clean(s, d)),
      Some("""SELECT 'user_' || md5(CAST(user_id AS VARCHAR)) AS user_key,
        |       user_id,
        |       MIN(CAST(ts AS DATE)) AS first_seen,
        |       COUNT(*) AS total_events,
        |       COUNT(DISTINCT CAST(ts AS DATE)) AS active_days
        |FROM events GROUP BY user_id""".stripMargin)),

    // ---- SCD Type-2 user-status dimension: every event_type change
    // opens a [valid_from, valid_to) version row; lag/lead over the
    // (ts, event_id) total order makes the history deterministic ----------
    Q("etl_scd2_users",
      (s, d) => StarSchema.scd2UserStatus(clean(s, d)),
      Some(s"""$Scd2Cte
        |SELECT user_key, user_id, status, valid_from, valid_to,
        |       is_current, version_n
        |FROM scd2""".stripMargin)),

    // ---- point-in-time lookup over the SCD2 dimension: each event
    // resolves the version valid at its timestamp (valid_from <= ts <
    // valid_to, open version unbounded) — the bitemporal read that
    // makes keeping history worth it. One equi-join on user_id; the
    // range predicate filters the handful of versions per user. -----------
    Q("etl_scd2_lookup",
      (s, d) => {
        val c = clean(s, d)
        val dim = StarSchema.scd2UserStatus(c)
        c.select(col("event_id"), col("user_id"), col("ts"))
          .join(dim, Seq("user_id"))
          .where(col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("status"), col("version_n"))
      },
      Some(s"""$Scd2Cte
        |SELECT e.event_id, e.user_id, e.ts, s.status, s.version_n
        |FROM clean e JOIN scd2 s
        |  ON e.user_id = s.user_id
        | AND e.ts >= s.valid_from
        | AND (s.valid_to IS NULL OR e.ts < s.valid_to)""".stripMargin)),

    Q("etl_dim_types",
      (s, d) => StarSchema.dimTypes(clean(s, d)),
      Some(s"""$CleanCte
        |SELECT 'type_' || md5(event_type) AS type_key, event_type,
        |       MIN(event_date) AS first_seen, COUNT(*) AS total_events
        |FROM clean GROUP BY event_type""".stripMargin)),

    Q("etl_dim_dates",
      (s, d) => StarSchema.dimDates(clean(s, d)),
      Some("""WITH b AS (SELECT CAST(min(ts) AS DATE) d0, CAST(max(ts) AS DATE) d1 FROM events),
        |g AS (SELECT CAST(unnest(generate_series(CAST(b.d0 AS TIMESTAMP), CAST(b.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date_value
        |      FROM b)
        |SELECT CAST(year(date_value)*10000 + month(date_value)*100 + day(date_value) AS INTEGER) AS date_key,
        |       date_value, dayname(date_value) AS day_name,
        |       CAST(dayofweek(date_value) AS INTEGER) AS pg_dow,
        |       dayofweek(date_value) IN (0,6) AS is_weekend,
        |       false AS is_holiday,
        |       monthname(date_value) AS month_name,
        |       CAST(year(date_value) AS INTEGER) AS year
        |FROM g""".stripMargin)),

    // ---- fact load (J1 star join, broadcast dims) ----------------------
    Q("etl_fact_events",
      (s, d) => StarSchema.fact(clean(s, d)),
      Some(s"""$CleanCte
        |SELECT event_id,
        |       CAST(year(event_date)*10000 + month(event_date)*100 + day(event_date) AS INTEGER) AS date_key,
        |       'user_' || md5(CAST(user_id AS VARCHAR)) AS user_key,
        |       'type_' || md5(event_type) AS type_key,
        |       value_cents, event_hour, is_weekend
        |FROM clean""".stripMargin),
      bench = true),

    // ---- A4 daily stats + W1 window argmax -----------------------------
    Q("etl_daily_stats",
      (s, d) => StarSchema.dailyStats(clean(s, d)),
      Some(DailyStatsOracle),
      bench = true),

    // ---- the EtlJob PIPELINE's daily stats against the dedup-aware
    // oracle: the composed incremental job (clean -> upsert-key dedup
    // -> touched-date recompute) must land on the identical aggregate.
    // Running it pins the deduplicated batch once and pins the dim
    // accumulators and daily stats off that pin: that IS the
    // pipeline's work, deliberately not skipped here. ---------------------
    Q("etl_job_daily_stats",
      (s, d) => graft.operators.EtlJob
        .run(None, Tables(s, d).events, "verify").dailyStats,
      Some(DailyStatsOracleDeduped)),

    // ---- J6+A10 zero-filled heatmap grid -------------------------------
    Q("an_heatmap",
      (s, d) => Analytics.heatmap(clean(s, d)),
      Some("""WITH b AS (SELECT date_trunc('hour', CAST(min(ts) AS TIMESTAMP)) h0, CAST(max(ts) AS TIMESTAMP) h1 FROM events),
        |gs AS (SELECT unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS g FROM b),
        |grid AS (SELECT CAST(g AS DATE) AS grid_date, CAST(EXTRACT(hour FROM g) AS INTEGER) AS grid_hour FROM gs),
        |hourly AS (SELECT CAST(ts AS DATE) AS grid_date, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS grid_hour,
        |                  COUNT(*) AS cnt, CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM events GROUP BY 1, 2)
        |SELECT g.grid_date, g.grid_hour,
        |       COALESCE(h.cnt, 0) AS n_events,
        |       COALESCE(h.cents, 0) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM grid g LEFT JOIN hourly h USING (grid_date, grid_hour)""".stripMargin),
      bench = true),

    // ---- A1+A2+W2 ratio-to-day-total ------------------------------------
    Q("an_hour_ratio",
      (s, d) => Analytics.hourRatio(clean(s, d)),
      Some(s"""$CleanCte,
        |byp AS (SELECT pg_dow, day_name, time_period, COUNT(*) AS n_events,
        |               CAST(SUM(value_cents) AS BIGINT) AS cents
        |        FROM clean GROUP BY 1, 2, 3)
        |SELECT pg_dow, day_name, time_period, n_events,
        |       cents / CAST(100.0 AS DOUBLE) AS total_value,
        |       cents * CAST(100.0 AS DOUBLE) / CAST(SUM(cents) OVER (PARTITION BY pg_dow) AS BIGINT) AS pct_of_day
        |FROM byp""".stripMargin)),

    // ---- A3 weekday/weekend radar ---------------------------------------
    Q("an_radar",
      (s, d) => Analytics.radar(clean(s, d)),
      Some(s"""$CleanCte,
        |g AS (
        |  SELECT CASE WHEN is_weekend THEN 'Weekend' ELSE 'Weekday' END AS day_type,
        |         COUNT(*) AS n_events,
        |         CAST(SUM(value_cents) AS BIGINT) AS s1,
        |         SUM(CAST(value_cents * value_cents AS HUGEINT)) AS s2,
        |         COUNT(DISTINCT user_id) AS unique_users,
        |         COUNT(DISTINCT event_type) AS unique_types,
        |         COUNT(DISTINCT event_date) AS active_days,
        |         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_events,
        |         COUNT(CASE WHEN event_hour BETWEEN 6 AND 18 THEN 1 END) AS daytime_events
        |  FROM clean GROUP BY 1)
        |SELECT day_type, n_events,
        |       s1 / CAST(100.0 AS DOUBLE) AS total_value,
        |       s1 / CAST(100.0 AS DOUBLE) / n_events AS avg_value,
        |       unique_users, unique_types, active_days, error_events,
        |       CAST(100.0 AS DOUBLE) * daytime_events / n_events AS pct_daytime,
        |       sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_events) / (n_events - 1)) / CAST(100.0 AS DOUBLE) AS stddev_value
        |FROM g""".stripMargin)),

    // ---- A5 loyalty -----------------------------------------------------
    Q("an_loyalty",
      (s, d) => Analytics.loyalty(clean(s, d)),
      Some("""WITH g AS (
        |  SELECT user_id, COUNT(*) AS total_events,
        |         COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
        |         MIN(CAST(ts AS DATE)) AS first_date,
        |         MAX(CAST(ts AS DATE)) AS last_date
        |  FROM events GROUP BY user_id HAVING COUNT(*) >= 3),
        |sp AS (SELECT *, CAST(last_date - first_date AS INTEGER) + 1 AS span_days FROM g)
        |SELECT user_id, total_events, active_days, first_date, last_date, span_days,
        |       ((2000 * active_days + span_days) // (2 * span_days)) / CAST(1000.0 AS DOUBLE) AS loyalty_ratio,
        |       ((200 * total_events + span_days) // (2 * span_days)) / CAST(100.0 AS DOUBLE) AS avg_events_per_day
        |FROM sp
        |ORDER BY loyalty_ratio DESC, total_events DESC, user_id LIMIT 100""".stripMargin),
      bench = true),

    // ---- A6 lifecycle funnel (W5 first-event-relative windows) ----------
    Q("an_lifecycle",
      (s, d) => Analytics.lifecycle(clean(s, d)),
      Some(s"""$LifecycleCte
        |SELECT * FROM lc""".stripMargin)),

    // ---- A6d robust daily anomaly detection (median/MAD) ----------------
    // (1 / 3 flagged days at sf0.001 / sf0.01 with k=3 — non-vacuous
    // both arms; lower-median rank selection keeps every statistic an
    // actual integer count)
    Q("an_anomaly_days",
      (s, d) => Analytics.anomalyDays(clean(s, d)),
      Some(s"""$CleanCte,
        |dd AS (SELECT event_date, CAST(count(*) AS BIGINT) AS n_events
        |       FROM clean GROUP BY 1),
        |nd AS (SELECT count(*) AS n_days FROM dd),
        |rk AS (SELECT dd.*, ROW_NUMBER() OVER (ORDER BY n_events, event_date) AS rn
        |       FROM dd),
        |med AS (SELECT n_events AS med FROM rk, nd WHERE rn = (n_days + 1) // 2),
        |ad AS (SELECT dd.event_date, dd.n_events, m.med,
        |              abs(dd.n_events - m.med) AS abs_dev
        |       FROM dd, med m),
        |rka AS (SELECT ad.*, ROW_NUMBER() OVER (ORDER BY abs_dev, event_date) AS rn
        |        FROM ad),
        |mad AS (SELECT abs_dev AS mad FROM rka, nd WHERE rn = (n_days + 1) // 2)
        |SELECT a.event_date, a.n_events, a.med, x.mad,
        |       a.abs_dev > 3 * x.mad AS is_anomaly
        |FROM ad a, mad x""".stripMargin)),

    // ---- A6c ordered conversion funnel ----------------------------------
    // (view -> click -> purchase, each stage STRICTLY AFTER the
    // previous stage's first qualifying event and within a 24h
    // attribution window — the window makes both arms non-vacuous:
    // without it every user of this dense synthetic corpus converts)
    Q("an_funnel",
      (s, d) => Analytics.funnel(clean(s, d)),
      Some(s"""$CleanCte,
        |v AS (SELECT user_id, MIN(ts) AS t_view FROM clean
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT cl.user_id, MIN(cl.ts) AS t_click
        |      FROM clean cl JOIN v ON v.user_id = cl.user_id
        |      WHERE cl.event_type = 'click' AND cl.ts > v.t_view
        |        AND cl.ts <= v.t_view + INTERVAL 24 HOUR
        |      GROUP BY 1),
        |p AS (SELECT cl.user_id, MIN(cl.ts) AS t_purchase
        |      FROM clean cl JOIN c ON c.user_id = cl.user_id
        |      WHERE cl.event_type = 'purchase' AND cl.ts > c.t_click
        |        AND cl.ts <= c.t_click + INTERVAL 24 HOUR
        |      GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM clean)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(count(v.user_id) AS BIGINT) AS n_viewed,
        |       CAST(count(c.user_id) AS BIGINT) AS n_clicked_after,
        |       CAST(count(p.user_id) AS BIGINT) AS n_purchased_after,
        |       count(c.user_id) * 1000 // count(v.user_id) AS click_permille,
        |       count(p.user_id) * 1000 // count(c.user_id) AS purchase_permille
        |FROM u LEFT JOIN v USING (user_id)
        |       LEFT JOIN c USING (user_id)
        |       LEFT JOIN p USING (user_id)""".stripMargin)),

    // ---- A6b weekly cohort retention ------------------------------------
    // (users cohorted by first event date; each cell counts distinct
    // cohort members active in that week offset; retention is exact
    // permille of the week-0 size)
    Q("an_cohort_retention",
      (s, d) => Analytics.cohortRetention(clean(s, d)),
      Some(s"""$CleanCte,
        |fu AS (SELECT user_id, MIN(event_date) AS cohort_date
        |       FROM clean GROUP BY 1),
        |act AS (SELECT DISTINCT c.user_id, f.cohort_date,
        |          CAST(datediff('day', f.cohort_date, c.event_date) // 7 AS BIGINT) AS week_offset
        |        FROM clean c JOIN fu f USING (user_id)),
        |cnt AS (SELECT cohort_date, week_offset,
        |          CAST(count(*) AS BIGINT) AS n_users
        |        FROM act GROUP BY 1, 2),
        |sz AS (SELECT cohort_date, n_users AS cohort_size
        |       FROM cnt WHERE week_offset = 0)
        |SELECT c.cohort_date, c.week_offset, c.n_users, s.cohort_size,
        |       c.n_users * 1000 // s.cohort_size AS retention_permille
        |FROM cnt c JOIN sz s USING (cohort_date)""".stripMargin)),

    // ---- A7 top-N -------------------------------------------------------
    Q("an_top_types",
      (s, d) => Analytics.topN(clean(s, d), "event_type", 10),
      Some(s"""$CleanCte
        |SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(value_cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM clean GROUP BY event_type
        |ORDER BY n_events DESC, event_type LIMIT 10""".stripMargin)),

    // ---- W1 generalized: ranked top-k per group -------------------------
    Q("an_top3_types_per_day",
      (s, d) => Analytics.topKPerDay(clean(s, d), 3),
      Some(s"""$CleanCte,
        |cnt AS (SELECT event_date, event_type, COUNT(*) AS n_events
        |        FROM clean GROUP BY 1, 2)
        |SELECT event_date, event_type, n_events,
        |       CAST(rnk AS INTEGER) AS rank
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_date
        |        ORDER BY n_events DESC, event_type) AS rnk
        |      FROM cnt)
        |WHERE rnk <= 3""".stripMargin)),

    // ---- A8 discovery buckets -------------------------------------------
    Q("an_discovery_weekly",
      (s, d) => Analytics.discoveryWeekly(clean(s, d)),
      Some("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date FROM events GROUP BY user_id)
        |SELECT CAST((first_date - DATE '2000-01-01') // 7 AS BIGINT) AS week_bucket,
        |       MIN(first_date) AS week_start, COUNT(*) AS new_users
        |FROM f GROUP BY 1""".stripMargin)),

    // ---- W3 lag delta -----------------------------------------------------
    Q("an_daily_delta",
      (s, d) => Analytics.dailyDelta(clean(s, d)),
      Some("""WITH g AS (SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n_events FROM events GROUP BY 1)
        |SELECT event_date, n_events,
        |       LAG(n_events, 1) OVER (ORDER BY event_date) AS prev_events,
        |       n_events - LAG(n_events, 1) OVER (ORDER BY event_date) AS delta
        |FROM g""".stripMargin)),

    // ---- J2 anti join ------------------------------------------------------
    Q("an_users_no_purchase",
      (s, d) => Analytics.usersWithout(clean(s, d), "purchase"),
      // the oracle must apply the same trim/coalesce normalization the
      // Spark side's clean() applies before comparing event_type
      Some(s"""$CleanCte
        |SELECT DISTINCT user_id FROM clean e
        |WHERE NOT EXISTS (SELECT 1 FROM clean p
        |                  WHERE p.user_id = e.user_id AND p.event_type = 'purchase')""".stripMargin)),

    // ---- S6/§2.9 keyed dedup ------------------------------------------------
    Q("etl_dedup_keep_first",
      (s, d) => Analytics.dedupKeepFirst(clean(s, d)),
      Some("""SELECT user_id, epoch_us(ts) AS ts_us, MIN(event_id) AS kept_event_id,
        |       COUNT(*) AS n_dupes
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- §2.7 set operations --------------------------------------------------
    Q("an_set_ops",
      (s, d) => Analytics.setOps(clean(s, d)),
      Some("""WITH s AS (SELECT CAST(min(ts) AS DATE) + 15 AS sd FROM events),
        |h1 AS (SELECT DISTINCT user_id FROM events, s WHERE CAST(ts AS DATE) < s.sd),
        |h2 AS (SELECT DISTINCT user_id FROM events, s WHERE CAST(ts AS DATE) >= s.sd)
        |SELECT 'both' AS tag, user_id FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
        |UNION ALL SELECT 'only_h1' AS tag, user_id FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
        |UNION ALL SELECT 'only_h2' AS tag, user_id FROM (SELECT * FROM h2 EXCEPT SELECT * FROM h1)
        |UNION ALL SELECT 'any' AS tag, user_id FROM (SELECT * FROM h1 UNION SELECT * FROM h2)""".stripMargin)),

    // ---- §2.7 multiset (ALL) set operations -------------------------------------
    Q("an_set_ops_all",
      (s, d) => Analytics.setOpsAll(clean(s, d)),
      Some(s"""$CleanCte,
        |sp AS (SELECT CAST(min(ts) AS DATE) + 15 AS sd FROM events),
        |h1 AS (SELECT event_type, event_hour FROM clean, sp WHERE event_date < sp.sd),
        |h2 AS (SELECT event_type, event_hour FROM clean, sp WHERE event_date >= sp.sd)
        |SELECT 'common_bag' AS tag, event_type, event_hour
        |FROM (SELECT * FROM h1 INTERSECT ALL SELECT * FROM h2)
        |UNION ALL
        |SELECT 'h1_surplus' AS tag, event_type, event_hour
        |FROM (SELECT * FROM h1 EXCEPT ALL SELECT * FROM h2)""".stripMargin)),

    // ---- §2.9 watermark incremental scan ----------------------------------------
    Q("etl_incremental_watermark",
      (s, d) => Analytics.incrementalAfterWatermark(clean(s, d)),
      Some(s"""$CleanCte,
        |wm AS (SELECT epoch_us(max(ts)) - CAST(604800 AS BIGINT)*1000000 AS w FROM clean)
        |SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(value_cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM clean, wm WHERE epoch_us(ts) > wm.w
        |GROUP BY event_type""".stripMargin)),

    // ---- relational core (TPC-H-shaped) -------------------------------------------
    Q("rel_pricing_summary",
      (s, d) => Relational.pricingSummary(Tables(s, d)),
      Some("""WITH g AS (
        |  SELECT l_returnflag, l_linestatus,
        |    SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS qty_c,
        |    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS price_c,
        |    SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS disc_u,
        |    SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*(1+l_tax)*1000000) AS BIGINT)) AS charge_u,
        |    COUNT(*) AS count_order
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
        |  GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus,
        |  qty_c / CAST(100.0 AS DOUBLE) AS sum_qty,
        |  price_c / CAST(100.0 AS DOUBLE) AS sum_base_price,
        |  disc_u / CAST(10000.0 AS DOUBLE) AS sum_disc_price,
        |  charge_u / CAST(1000000.0 AS DOUBLE) AS sum_charge,
        |  count_order,
        |  qty_c / CAST(100.0 AS DOUBLE) / count_order AS avg_qty,
        |  price_c / CAST(100.0 AS DOUBLE) / count_order AS avg_price
        |FROM g""".stripMargin),
      bench = true),

    Q("rel_top_revenue_orders",
      (s, d) => Relational.topRevenueOrders(Tables(s, d)),
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |       rev_u / CAST(10000.0 AS DOUBLE) AS revenue
        |FROM (
        |  SELECT o_orderkey, o_orderdate, o_orderpriority,
        |         SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS rev_u
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY 1, 2, 3
        |  ORDER BY rev_u DESC, o_orderkey LIMIT 10)""".stripMargin),
      bench = true),

    Q("rel_region_revenue",
      (s, d) => Relational.regionRevenue(Tables(s, d), "ASIA"),
      Some("""SELECT n_name,
        |  SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) / CAST(10000.0 AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),
      bench = true),

    Q("rel_parts_never_ordered",
      (s, d) => Relational.partsNeverOrdered(Tables(s, d)),
      Some("""SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)""".stripMargin)),

    Q("rel_customers_no_orders",
      (s, d) => Relational.customersWithoutOrders(Tables(s, d)),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // ---- J2 positive twin: EXISTS-style left_semi ------------------------
    Q("rel_customers_with_orders",
      (s, d) => Relational.customersWithOrders(Tables(s, d)),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // ---- W4 family: NTILE bucketing within a partition key ---------------
    Q("rel_order_quartiles",
      (s, d) => Relational.orderQuartiles(Tables(s, d)),
      Some("""WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |q AS (SELECT *,
        |        CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
        |          ORDER BY price_cents DESC, o_orderkey) AS INTEGER) AS quartile
        |      FROM o)
        |SELECT o_orderpriority, quartile, COUNT(*) AS n_orders,
        |       CAST(SUM(price_cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_spend
        |FROM q GROUP BY 1, 2""".stripMargin)),

    // ---- sequence building: ordered per-user event streams ---------------
    // (the step that turns an event log into sequence-model training
    // examples: deterministic (ts, event_id)-ordered aggregation per
    // user, surfaced as the md5 of the ordered id stream because the
    // driver comparator cannot sort array cells — the hash pins the
    // ORDER, not just the membership)
    Q("etl_user_sequences",
      (s, d) => clean(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          md5(concat_ws(",",
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id")))),
              x => x("event_id").cast("string")))).as("seq_hash")),
      Some(s"""$CleanCte
        |SELECT user_id, COUNT(*) AS n_events,
        |       md5(string_agg(CAST(event_id AS VARCHAR), ','
        |         ORDER BY ts, event_id)) AS seq_hash
        |FROM clean GROUP BY 1""".stripMargin)),

    // ---- A-family breadth: fixed-width value histogram -------------------
    Q("an_value_histogram",
      (s, d) => Tables(s, d).events
        .where(col("value").isNotNull)
        .select(least(floor(col("value") / 50).cast("long"), lit(11L))
          .as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_events")),
      Some("""SELECT LEAST(CAST(FLOOR(value/50) AS BIGINT), CAST(11 AS BIGINT)) AS bucket,
        |       COUNT(*) AS n_events
        |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin)),

    // ---- pipeline safety rails: declarative expectations gate ------------
    // (one aggregate pass for all rules; user_id_positive genuinely
    // fails on this data — 57 violations at sf0.01 — so both the
    // passing and failing paths are exercised)
    Q("etl_expectations",
      (s, d) => graft.operators.Checks.expect(Tables(s, d).events, Seq(
        "event_id_not_null" -> col("event_id").isNotNull,
        "user_id_positive" -> (col("user_id") > 0),
        "value_null_or_non_negative" ->
          (col("value").isNull || col("value") >= 0),
        "type_present" -> (trim(col("event_type")) =!= ""))),
      Some("""WITH t AS (SELECT
        |  CAST(count(*) FILTER (WHERE NOT COALESCE(event_id IS NOT NULL, FALSE)) AS BIGINT) AS v1,
        |  CAST(count(*) FILTER (WHERE NOT COALESCE(user_id > 0, FALSE)) AS BIGINT) AS v2,
        |  CAST(count(*) FILTER (WHERE NOT COALESCE(value IS NULL OR value >= 0, FALSE)) AS BIGINT) AS v3,
        |  CAST(count(*) FILTER (WHERE NOT COALESCE(trim(event_type) <> '', FALSE)) AS BIGINT) AS v4
        | FROM events)
        |SELECT 'event_id_not_null' AS rule, v1 AS n_violations, v1 = 0 AS passed FROM t
        |UNION ALL SELECT 'user_id_positive', v2, v2 = 0 FROM t
        |UNION ALL SELECT 'value_null_or_non_negative', v3, v3 = 0 FROM t
        |UNION ALL SELECT 'type_present', v4, v4 = 0 FROM t""".stripMargin)),

    // ---- pipeline safety rails: snapshot reconciliation ------------------
    // (per-key diff of two table versions by canonical fingerprint;
    // the prev snapshot is DERIVED from events deterministically so
    // all four difference classes are non-empty and the oracle can
    // replay the construction)
    Q("etl_snapshot_diff",
      (s, d) => {
        val ev = Tables(s, d).events
        val vc = graft.functions.TimeFns.cents(col("value"))
        val fp = md5(concat_ws("|",
          coalesce(col("event_type"), lit("<NULL>")),
          coalesce(vc.cast("string"), lit("<NULL>")),
          coalesce(col("user_id").cast("string"), lit("<NULL>"))))
        val prev = ev.where(col("event_id") % 5 =!= 0)
          .withColumn("event_type", when(col("event_id") % 7 === 0,
            concat(col("event_type"), lit("_old")))
            .otherwise(col("event_type")))
          .unionByName(ev.where(col("event_id") % 11 === 0)
            .withColumn("event_id", col("event_id") + 1000000000L))
        graft.operators.Checks.snapshotDiff(prev, ev, "event_id", fp)
      },
      Some("""WITH base AS (
        |  SELECT event_id, event_type,
        |         CAST(ROUND(value*100) AS BIGINT) AS vc, user_id
        |  FROM events),
        |prev AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 7 = 0 THEN event_type || '_old'
        |              ELSE event_type END AS event_type,
        |         vc, user_id
        |  FROM base WHERE event_id % 5 <> 0
        |  UNION ALL
        |  SELECT event_id + 1000000000, event_type, vc, user_id
        |  FROM base WHERE event_id % 11 = 0),
        |pf AS (SELECT event_id AS k,
        |         md5(COALESCE(event_type, '<NULL>') || '|' ||
        |             COALESCE(CAST(vc AS VARCHAR), '<NULL>') || '|' ||
        |             COALESCE(CAST(user_id AS VARCHAR), '<NULL>')) AS fp
        |       FROM prev),
        |nf AS (SELECT event_id AS k,
        |         md5(COALESCE(event_type, '<NULL>') || '|' ||
        |             COALESCE(CAST(vc AS VARCHAR), '<NULL>') || '|' ||
        |             COALESCE(CAST(user_id AS VARCHAR), '<NULL>')) AS fp
        |       FROM base),
        |j AS (SELECT pf.fp AS fp_prev, nf.fp AS fp_next
        |      FROM pf FULL OUTER JOIN nf ON pf.k = nf.k)
        |SELECT CASE WHEN fp_prev IS NULL THEN 'added'
        |            WHEN fp_next IS NULL THEN 'removed'
        |            WHEN fp_prev = fp_next THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       COUNT(*) AS n_keys
        |FROM j GROUP BY 1""".stripMargin)),

    // ---- pipeline safety rails: column profiling card --------------------
    // (the per-ingest data-quality artifact: one aggregate job — the
    // multi-column distinct plan Expands the scan once — min/max on
    // native types surfaced as strings; doubles stay out of the
    // profiled list because engines format them differently)
    Q("qa_profile_card",
      (s, d) => graft.operators.Checks.profileCard(Tables(s, d).events,
        Seq("event_type", "user_id", "props")),
      Some("""WITH t AS (SELECT event_type, user_id, props FROM events)
        |SELECT 'event_type' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COUNT(*) - COUNT(event_type) AS BIGINT) AS n_nulls,
        |       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct,
        |       CAST(MIN(event_type) AS VARCHAR) AS min_val,
        |       CAST(MAX(event_type) AS VARCHAR) AS max_val FROM t
        |UNION ALL
        |SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
        |       CAST(COUNT(*) - COUNT(user_id) AS BIGINT),
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT),
        |       CAST(MIN(user_id) AS VARCHAR),
        |       CAST(MAX(user_id) AS VARCHAR) FROM t
        |UNION ALL
        |SELECT 'props', CAST(COUNT(*) AS BIGINT),
        |       CAST(COUNT(*) - COUNT(props) AS BIGINT),
        |       CAST(COUNT(DISTINCT props) AS BIGINT),
        |       CAST(MIN(props) AS VARCHAR),
        |       CAST(MAX(props) AS VARCHAR) FROM t""".stripMargin)),

    // ---- pipeline safety rails: exact per-column heavy hitters -----------
    // (the skew watchlist: top-5 values of the columns a pipeline
    // joins or partitions on; melt + map-side-combined count, so the
    // shuffle carries one row per DISTINCT (column, value))
    Q("qa_heavy_hitters",
      (s, d) => graft.operators.Checks.heavyHitters(Tables(s, d).events,
        Seq("event_type", "user_id"), k = 5),
      Some("""WITH m AS (
        |  SELECT 'event_type' AS col_name, CAST(event_type AS VARCHAR) AS value
        |  FROM events WHERE event_type IS NOT NULL
        |  UNION ALL
        |  SELECT 'user_id', CAST(user_id AS VARCHAR)
        |  FROM events WHERE user_id IS NOT NULL),
        |g AS (SELECT col_name, value, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM m GROUP BY 1, 2)
        |SELECT col_name, value, cnt, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY col_name
        |    ORDER BY cnt DESC, value) AS rk FROM g) WHERE rk <= 5""".stripMargin)),

    // ---- pipeline safety rails: exact numeric profile --------------------
    // (cents-quantized min/max/median per measure column off a
    // value histogram — one row per DISTINCT value, never a
    // per-column corpus sort; the lower-median rank rule shared with
    // sim_dim_stats)
    Q("qa_numeric_profile",
      (s, d) => graft.operators.Checks.numericProfile(
        Tables(s, d).lineitem.toDF(),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      Some("""WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem),
        |m AS (
        |  SELECT 'l_quantity' AS col_name,
        |         CAST(round(CAST(l_quantity AS DOUBLE)*100) AS BIGINT) AS v
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |  UNION ALL
        |  SELECT 'l_extendedprice',
        |         CAST(round(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |  UNION ALL
        |  SELECT 'l_discount',
        |         CAST(round(CAST(l_discount AS DOUBLE)*100) AS BIGINT)
        |  FROM lineitem WHERE l_discount IS NOT NULL
        |  UNION ALL
        |  SELECT 'l_tax', CAST(round(CAST(l_tax AS DOUBLE)*100) AS BIGINT)
        |  FROM lineitem WHERE l_tax IS NOT NULL),
        |h AS (SELECT col_name, v, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM m GROUP BY 1, 2),
        |n AS (SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS n_vals,
        |             MIN(v) AS min_c, MAX(v) AS max_c
        |      FROM h GROUP BY 1),
        |med AS (SELECT col_name, MIN(v) AS median_c FROM (
        |  SELECT h.col_name, h.v,
        |         SUM(h.cnt) OVER (PARTITION BY h.col_name ORDER BY h.v) AS cum,
        |         n.n_vals
        |  FROM h JOIN n USING (col_name))
        |  WHERE cum >= (n_vals + 1) // 2 GROUP BY 1)
        |SELECT n.col_name, n.n_vals, CAST(total - n_vals AS BIGINT) AS n_nulls,
        |       n.min_c, n.max_c, med.median_c
        |FROM n JOIN med USING (col_name), t""".stripMargin)),

    // ---- data layout: Z-order (Morton) clustering key --------------------
    // (the multi-column pruning layout: LayoutSpec proves the sorted
    // write clusters BOTH dimensions per file; this row pins the
    // interleave arithmetic itself — Spark expression and oracle SQL
    // are generated from the same Layout loop)
    Q("etl_zorder_key",
      (s, d) => clean(s, d).select(col("event_id"), col("user_id"),
        col("event_hour"),
        graft.operators.Layout.zValue(col("user_id"), col("event_hour"))
          .as("z")),
      Some(s"""$CleanCte
        |SELECT event_id, user_id, event_hour,
        |       ${graft.operators.Layout.zValueSql("user_id", "event_hour")} AS z
        |FROM clean""".stripMargin)),

    // ---- §2.4 completeness: one-pass CUBE (the rollup's superset) --------
    Q("rel_cube_revenue",
      (s, d) => Relational.cubeRevenue(Tables(s, d)),
      Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COALESCE(o_orderstatus, 'ALL') AS status,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) / CAST(100.0 AS DOUBLE) AS revenue
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin)),

    // ---- §2.5 completeness: explicit GROUPING SETS + grouping_id --------
    // (the subtotal layout CUBE cannot express: per-priority,
    // per-status, and grand total with NO detail rows; gid
    // disambiguates subtotal NULLs from genuine ones)
    Q("rel_grouping_sets",
      (s, d) => Relational.groupingSetsRevenue(Tables(s, d)),
      Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COALESCE(o_orderstatus, 'ALL') AS status,
        |       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) / CAST(100.0 AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin)),

    // ---- §2.5 completeness: the ANSI window-function surface -------------
    Q("rel_window_showcase",
      (s, d) => Relational.windowShowcase(Tables(s, d)),
      Some("""WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
        |  CAST(RANK() OVER w AS INTEGER) AS rk,
        |  CAST(DENSE_RANK() OVER w AS INTEGER) AS drk,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume,
        |  CAST(NTILE(5) OVER w AS INTEGER) AS bucket5,
        |  LAG(o_orderkey, 1) OVER w AS prev_key,
        |  LEAD(o_orderkey, 1) OVER w AS next_key,
        |  FIRST_VALUE(o_orderkey) OVER w AS top_key,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key
        |FROM o
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY price_cents DESC, o_orderkey)""".stripMargin)),

    Q("rel_customer_order_windows",
      (s, d) => Relational.customerOrderWindows(Tables(s, d)),
      Some("""WITH o AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_date,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS order_rank,
        |  CAST(SUM(price_cents) OVER (PARTITION BY o_custkey ORDER BY o_date, o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / CAST(100.0 AS DOUBLE) AS running_spend,
        |  price_cents / CAST(100.0 AS DOUBLE) AS order_total
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_date, o_orderkey)""".stripMargin),
      bench = true),

    // ---- W-family: value-based RANGE frame (trailing 30-day spend) -------
    Q("rel_trailing_spend",
      (s, d) => Relational.trailingSpend(Tables(s, d)),
      Some("""WITH o AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS di,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_date,
        |  CAST(SUM(price_cents) OVER (PARTITION BY o_custkey ORDER BY di
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    / CAST(100.0 AS DOUBLE) AS trailing_spend
        |FROM o""".stripMargin)),

    // ---- P3 TEXT[] quality flags. qualityFlagsArray stays the
    // TEXT[]-parity API; the registered query surfaces the array as a
    // deterministic joined string because the driver's pandas
    // comparator cannot sort array-typed cells. ---------------------------
    Q("etl_quality_flags",
      (s, d) => {
        val ev = Tables(s, d).events
        ev.select(col("event_id"),
          array_join(graft.functions.QualityFns.qualityFlagsArray(
            col("event_type"), col("value")), ",").as("quality_flags"))
      },
      // COALESCE: DuckDB's array_to_string of an empty list is NULL
      // where Spark's array_join is '' — normalize to ''
      Some("""SELECT event_id,
        |  COALESCE(array_to_string(
        |    CASE WHEN event_type IS NULL OR TRIM(event_type) = '' THEN ['missing_type']
        |         WHEN value IS NULL OR value < 10.0 THEN ['short_duration']
        |         ELSE CAST([] AS VARCHAR[]) END, ','), '') AS quality_flags
        |FROM events""".stripMargin)),

    // ---- A4 alternate daily aggregate (analytics.daily_listening_stats,
    // utils/database.py:241-255: totals + averages + top entity) ----------
    Q("etl_daily_stats_alt",
      (s, d) => {
        val c = clean(s, d)
        c.groupBy(col("event_date"))
          .agg(count(lit(1)).as("total_events"),
            countDistinct(col("user_id")).as("unique_users"),
            sum(col("value_cents")).as("cents"),
            call_function("top1_by_count", col("event_type"), lit(1L))
              .as("top_type"))
          .select(col("event_date"), col("total_events"),
            col("unique_users"),
            (col("cents") / lit(100.0)).as("total_value"),
            (col("cents") / lit(100.0) / col("total_events"))
              .as("avg_value"),
            col("top_type"))
      },
      Some(s"""$CleanCte,
        |g AS (SELECT event_date, COUNT(*) AS total_events,
        |             COUNT(DISTINCT user_id) AS unique_users,
        |             CAST(SUM(value_cents) AS BIGINT) AS cents
        |      FROM clean GROUP BY 1),
        |tt AS (SELECT event_date, event_type AS top_type FROM (
        |  SELECT event_date, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY event_date ORDER BY COUNT(*) DESC, event_type) AS rn
        |  FROM clean GROUP BY 1, 2) WHERE rn = 1)
        |SELECT g.event_date, g.total_events, g.unique_users,
        |       cents / CAST(100.0 AS DOUBLE) AS total_value,
        |       cents / CAST(100.0 AS DOUBLE) / g.total_events AS avg_value,
        |       tt.top_type
        |FROM g JOIN tt USING (event_date)""".stripMargin)),

    // ---- A7 top-N on the user dimension (track_treemap.py:22-38
    // analog — the reference serves the same top-10 for three dims) -------
    Q("an_top_users",
      (s, d) => Analytics.topN(clean(s, d), "user_id", 10),
      Some(s"""$CleanCte
        |SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(value_cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM clean GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin)),

    // ---- A9 two-key (discovery date x enrichment attr) grouping
    // (artist_gender.py:83-89 GROUP BY first_discovered, gender) ----------
    Q("an_discovery_segment",
      (s, d) => Analytics.discoveryBySegment(clean(s, d),
        Tables(s, d).customer),
      Some("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_seen
        |          FROM events GROUP BY 1)
        |SELECT f.first_seen, COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
        |       COUNT(*) AS new_users
        |FROM f LEFT JOIN customer c ON f.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin)),

    // ---- A8 discovery at daily + monthly grains --------------------------
    Q("an_discovery_daily",
      (s, d) => Analytics.discoveryDaily(clean(s, d)),
      Some("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date FROM events GROUP BY user_id)
        |SELECT first_date, COUNT(*) AS new_users FROM f GROUP BY 1""".stripMargin)),

    Q("an_discovery_monthly",
      (s, d) => Analytics.discoveryMonthly(clean(s, d)),
      Some("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date FROM events GROUP BY user_id)
        |SELECT date_trunc('month', first_date) AS month_start, COUNT(*) AS new_users
        |FROM f GROUP BY 1""".stripMargin)),

    // ---- A9 enrichment-attribute grouping (gender/band analog) -----------
    Q("an_segment_enrichment",
      (s, d) => Analytics.segmentEnrichment(clean(s, d), Tables(s, d).customer),
      Some(s"""$CleanCte
        |SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
        |       COUNT(*) AS n_events,
        |       COUNT(DISTINCT clean.user_id) AS unique_users,
        |       CAST(SUM(value_cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM clean LEFT JOIN customer c ON clean.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin)),

    // ---- A11 pivot matrix -------------------------------------------------
    Q("an_period_pivot",
      (s, d) => Analytics.periodPivot(clean(s, d)),
      Some(s"""$CleanCte
        |SELECT pg_dow, day_name,
        |       COUNT(CASE WHEN time_period='morning' THEN 1 END) AS morning,
        |       COUNT(CASE WHEN time_period='afternoon' THEN 1 END) AS afternoon,
        |       COUNT(CASE WHEN time_period='evening' THEN 1 END) AS evening,
        |       COUNT(CASE WHEN time_period='night' THEN 1 END) AS night
        |FROM clean GROUP BY 1, 2""".stripMargin)),

    // ---- A2 superset: one-pass ROLLUP subtotals ---------------------------
    Q("an_period_rollup",
      (s, d) => Analytics.periodRollup(clean(s, d)),
      Some(s"""$CleanCte
        |SELECT COALESCE(day_name, 'ALL') AS day_name,
        |       COALESCE(time_period, 'ALL') AS time_period,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(value_cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM clean GROUP BY ROLLUP (day_name, time_period)""".stripMargin)),

    // ---- P4 per-record multi-rule validation score ------------------------
    Q("etl_record_scores",
      (s, d) => {
        val ev = Tables(s, d).events
        ev.select(col("event_id"),
          graft.functions.QualityFns.recordScore(
            col("event_type"), col("value"), col("props"))
            .as("record_score"))
      },
      Some("""SELECT event_id,
        |  LEAST(GREATEST((10
        |    - (CASE WHEN event_type IS NULL OR TRIM(event_type) = '' THEN 1 ELSE 0 END)
        |    - (CASE WHEN value IS NULL OR value < 10.0 THEN 1 ELSE 0 END)
        |    - (CASE WHEN props IS NULL OR props = '{}' OR TRIM(props) = '' THEN 1 ELSE 0 END)
        |    + (CASE WHEN value > 100.0 THEN 1 ELSE 0 END)) * 100, 0), 1000)
        |  / CAST(1000.0 AS DOUBLE) AS record_score
        |FROM events""".stripMargin)),

    // ---- A12/P4 validation summary ----------------------------------------
    Q("an_validation_summary",
      (s, d) => Analytics.validationSummary(clean(s, d)),
      Some(s"""$CleanCte
        |SELECT COUNT(*) AS n_records,
        |       CAST(SUM(CASE WHEN quality_flag='missing_type' THEN 5
        |                     WHEN quality_flag='short_duration' THEN 7
        |                     ELSE 10 END) AS DOUBLE) / (COUNT(*) * CAST(10.0 AS DOUBLE)) AS avg_quality,
        |       MIN(quality_score) AS min_quality,
        |       MAX(quality_score) AS max_quality,
        |       COUNT(CASE WHEN quality_flag <> '' THEN 1 END) AS n_flagged,
        |       COUNT(DISTINCT user_id) AS unique_users,
        |       COUNT(DISTINCT event_type) AS unique_types
        |FROM clean""".stripMargin)),

    Q("rel_scalar_showcase",
      (s, d) => Relational.scalarShowcase(Tables(s, d)),
      Some("""SELECT c_custkey,
        |  'cust_' || md5(CAST(c_custkey AS VARCHAR)) AS surrogate_key,
        |  upper(c_name) AS name_upper,
        |  substr(c_name, 1, 8) AS name_prefix,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  trim(c_mktsegment) AS segment,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |  abs(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS bal_cents_abs,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 5000 THEN 'standard'
        |       ELSE 'premium' END AS balance_tier,
        |  COALESCE(NULLIF(c_mktsegment, ''), 'UNKNOWN') AS segment_clean
        |FROM customer""".stripMargin)),

    // ---- A11 sankey link weights (two-level pandas groupby folded in) ----
    Q("an_sankey_links",
      (s, d) => Analytics.sankeyLinks(clean(s, d)),
      Some(s"""$LifecycleCte
        |SELECT conversion_category, lifecycle_stage,
        |       COUNT(*) AS n_users,
        |       CAST(SUM(total_events) AS BIGINT) AS total_events
        |FROM lc GROUP BY 1, 2""".stripMargin)),

    // ---- batch sessionization (gap-break windows; streaming twin in
    // graft.streaming.Streams.sessionize) ----------------------------------
    Q("an_sessions",
      (s, d) => Analytics.sessionize(clean(s, d)),
      Some("""WITH e AS (
        |  SELECT user_id, ts, CAST(ROUND(value*100) AS BIGINT) AS value_cents,
        |         epoch_us(ts) AS us,
        |         lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_break
        |  FROM e),
        |sn AS (
        |  SELECT *, CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM b)
        |SELECT user_id, session_no,
        |       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |       CAST(MAX(ts) AS TIMESTAMP) AS session_end,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(value_cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM sn GROUP BY 1, 2""".stripMargin)),

    // ---- A11 pandas-side min-max normalization as a window ---------------
    Q("an_normalized_intensity",
      (s, d) => Analytics.normalizedIntensity(clean(s, d)),
      Some("""WITH hourly AS (
        |  SELECT CAST(ts AS DATE) AS event_date,
        |         CAST(EXTRACT(hour FROM ts) AS INTEGER) AS event_hour,
        |         COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT *, MIN(n_events) OVER w AS day_min, MAX(n_events) OVER w AS day_max
        |      FROM hourly WINDOW w AS (PARTITION BY event_date))
        |SELECT event_date, event_hour, n_events,
        |       CASE WHEN day_max = day_min THEN CAST(0.0 AS DOUBLE)
        |            ELSE CAST(n_events - day_min AS DOUBLE) / (day_max - day_min)
        |       END AS intensity
        |FROM b""".stripMargin)),

    // ---- J4 supplier-side chain ------------------------------------------
    Q("rel_supplier_by_nation",
      (s, d) => Relational.supplierByNation(Tables(s, d)),
      Some("""SELECT r_name, n_name, COUNT(*) AS n_suppliers,
        |       SUM(CAST(ROUND(s_acctbal*100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin)),

    // ---- sliding event-time windows (same operator serves the
    // streaming path; window() semantics are epoch-aligned) ---------------
    Q("an_sliding_windows",
      (s, d) => {
        val ev = Tables(s, d).events
          .withColumn("ts", col("ts").cast("timestamp"))
        graft.streaming.Streams.slidingCounts(ev)
      },
      Some("""SELECT ws AS window_start, event_type, COUNT(*) AS n_events
        |FROM (
        |  SELECT CAST(date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS TIMESTAMP) AS ws,
        |         event_type
        |  FROM events, (SELECT unnest([0, 1, 2]) AS k))
        |GROUP BY 1, 2""".stripMargin)),

    // ---- §2.9 tumbling windows: the STREAMING operators run in batch
    // mode (window() start == date_trunc for epoch-aligned widths), so
    // the gate verifies the same code path the stream executes --------------
    Q("an_hourly_counts",
      (s, d) => {
        val ev = Tables(s, d).events
          .withColumn("ts", col("ts").cast("timestamp"))
        graft.streaming.Streams.hourlyCounts(ev)
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |       event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    Q("an_daily_counts",
      (s, d) => {
        val ev = Tables(s, d).events
          .withColumn("ts", col("ts").cast("timestamp"))
        graft.streaming.Streams.dailyCounts(ev)
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
        |       event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- as-of join: each event joined to the user's most recent
    // order at event time (composed union+window — ONE key shuffle, no
    // range join; oracle uses DuckDB's native ASOF JOIN) ------------------
    Q("rel_asof_join",
      (s, d) => {
        val t = Tables(s, d)
        val events = StarSchema.clean(t.events)
          .select(col("event_id"), col("user_id"),
            col("event_date"))
        // right side made unique per (key, time): keep the max orderkey
        // of the day and its price, deterministically
        val orders = t.orders
          .select(col("o_custkey"), to_date(col("o_orderdate")).as("o_date"),
            struct(col("o_orderkey"),
              graft.functions.TimeFns.cents(col("o_totalprice"))
                .as("cents")).as("ok"))
          .groupBy(col("o_custkey"), col("o_date"))
          .agg(max(col("ok")).as("ok"))
          .select(col("o_custkey").as("user_id"), col("o_date"),
            col("ok.o_orderkey").as("last_order_key"),
            col("ok.cents").as("cents"))
        graft.operators.AsOf.joinAsOf(events, orders, "user_id",
            "event_date", "o_date", Seq("last_order_key", "cents"))
          .select(col("event_id"), col("user_id"), col("event_date"),
            col("last_order_key"),
            (col("cents") / lit(100.0)).as("last_order_total"))
      },
      Some(s"""$CleanCte,
        |ev AS (SELECT event_id, user_id, event_date FROM clean),
        |ord AS (
        |  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS o_date,
        |         max_by(o_orderkey, o_orderkey) AS last_order_key,
        |         max_by(CAST(ROUND(o_totalprice*100) AS BIGINT), o_orderkey) AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT ev.event_id, ev.user_id, ev.event_date,
        |       ord.last_order_key,
        |       ord.cents / CAST(100.0 AS DOUBLE) AS last_order_total
        |FROM ev ASOF LEFT JOIN ord
        |  ON ev.user_id = ord.user_id AND ev.event_date >= ord.o_date""".stripMargin)),

    // ---- range (interval containment) join: line items shipped within
    // 30 days of their order date; exploded-bucket equi-join, not a
    // theta join -----------------------------------------------------------
    Q("rel_range_join",
      (s, d) => {
        val t = Tables(s, d)
        val ship = t.lineitem
          .select(col("l_orderkey").as("okey"),
            to_date(col("l_shipdate")).as("ship_date"),
            graft.functions.TimeFns.cents(col("l_extendedprice"))
              .as("price_c"))
        val orders = t.orders
          .select(col("o_orderkey").as("okey"),
            to_date(col("o_orderdate")).as("o_date"))
        graft.operators.AsOf.joinRange(ship, orders, "okey",
            "ship_date", "o_date", 30, Seq.empty)
          .groupBy(col("okey"), col("o_date"))
          .agg(count(lit(1)).as("n_shipped_month1"),
            (sum(col("price_c")) / lit(100.0)).as("shipped_value"))
      },
      Some("""SELECT o.o_orderkey AS okey, CAST(o.o_orderdate AS DATE) AS o_date,
        |       COUNT(*) AS n_shipped_month1,
        |       CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) / CAST(100.0 AS DOUBLE) AS shipped_value
        |FROM orders o
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  AND CAST(l.l_shipdate AS DATE) BETWEEN CAST(o.o_orderdate AS DATE)
        |                                     AND CAST(o.o_orderdate AS DATE) + 29
        |GROUP BY 1, 2""".stripMargin)),

    // ---- bucketed co-located join (Warehouse.saveBucketed): both
    // sides are hash-distributed into the same bucket layout at write
    // time, so the join runs with NO shuffle exchange on either side
    // (BucketedJoinSpec asserts the plan; this row pins the RESULT —
    // the oracle is the plain join, because bucketing must never
    // change the answer, only the distribution). ---------------------------
    Q("rel_bucketed_join",
      (s, d) => {
        val t = Tables(s, d)
        // the table names are scoped by the scale-factor directory so
        // suite runs at DIFFERENT SFs sharing one warehouse/metastore
        // cannot clobber each other's tables mid-query; sequential
        // same-SF reruns overwrite their own tables (the intended
        // idempotent refresh), while two same-SF runs executing
        // CONCURRENTLY against one metastore still race — run those
        // against separate warehouses
        val tag = d.replaceAll("[^A-Za-z0-9]+", "_")
          .replaceAll("^_+|_+$", "").toLowerCase(java.util.Locale.ROOT)
        graft.operators.Warehouse.saveBucketed(
          t.lineitem.select(col("l_orderkey"),
            graft.functions.TimeFns.cents(col("l_extendedprice"))
              .as("price_c")),
          s"bq_lineitem_$tag", "l_orderkey", 8)
        graft.operators.Warehouse.saveBucketed(
          t.orders.select(col("o_orderkey"), col("o_orderpriority")),
          s"bq_orders_$tag", "o_orderkey", 8)
        s.table(s"bq_lineitem_$tag")
          .join(s.table(s"bq_orders_$tag"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            (sum(col("price_c")) / lit(100.0)).as("revenue"))
      },
      Some("""SELECT o.o_orderpriority, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) / CAST(100.0 AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin)),

    // ---- bloom-filter pruned join (BloomJoin.bloomPrunedJoin): the
    // fact side is filtered by a membership sketch of the dim side's
    // keys BEFORE the join shuffle — no false negatives, so the
    // oracle is the PLAIN join (the prune must never change the
    // answer, only how many rows reach the shuffle; BloomJoinSpec
    // asserts the probe sits in the plan and actually prunes). -------------
    Q("rel_bloom_prune_join",
      (s, d) => {
        val t = Tables(s, d)
        val buyers = t.customer
          .where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_mktsegment"))
        graft.operators.BloomJoin.bloomPrunedJoin(
            t.orders, "o_custkey", buyers, "c_custkey")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            (sum(graft.functions.TimeFns.cents(col("o_totalprice")))
              / lit(100.0)).as("revenue"))
      },
      Some("""SELECT o.o_orderpriority, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS BIGINT) / CAST(100.0 AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1""".stripMargin)),

    // ---- exact distinct-by-type: the oracle-checked exact twin of the
    // HLL sketch below (same grouping, exact countDistinct) ---------------
    Q("an_distinct_by_type",
      (s, d) => clean(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events")),
      Some(s"""$CleanCte
        |SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       COUNT(*) AS n_events
        |FROM clean GROUP BY event_type""".stripMargin)),

    // ---- approximate distinct (HLL++): at 100 TB the exact
    // countDistinct is the expensive special case and the sketch is the
    // default. The raw estimate is engine-specific, so the driver-checked
    // contract is the ERROR BOUND: |approx - exact| / exact <= 0.1 (the
    // same bound AnalyticsSpec pins at rsd 0.02), surfaced as a boolean
    // next to the exact counts the oracle recomputes. ----------------------
    Q("an_approx_distinct",
      (s, d) => clean(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"), col("exact_users"), col("n_events"),
          (abs(col("approx_users") - col("exact_users")).cast("double")
            <= col("exact_users") * lit(0.1)).as("within_pct")),
      Some(s"""$CleanCte
        |SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       COUNT(*) AS n_events, TRUE AS within_pct
        |FROM clean GROUP BY event_type""".stripMargin)),

    // ---- mergeable-sketch rollup: daily HLL sketches unioned over an
    // arbitrary date range — the pre-aggregation pattern that answers
    // "distinct users over ANY range" without rescanning the fact
    // (store one fixed-size sketch per day; union is associative).
    // Contract is the an_approx_distinct error-bound pattern: the
    // estimate must land within 5% of the exact twin. -----------------------
    Q("an_sketch_rollup",
      (s, d) => {
        val c = clean(s, d)
        val lo = lit(java.sql.Date.valueOf("2024-01-08"))
        val hi = lit(java.sql.Date.valueOf("2024-01-21"))
        val daily = c.groupBy(col("event_date"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val est = daily.where(col("event_date").between(lo, hi))
          .agg(count(lit(1)).as("n_days"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
        val exact = c.where(col("event_date").between(lo, hi))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        est.crossJoin(broadcast(exact)) // 1-row scalar frame
          .select(col("n_days"), col("exact_users"),
            (abs(col("est_users") - col("exact_users")).cast("double")
              <= col("exact_users") * lit(0.05)).as("within_pct"))
      },
      Some(s"""$CleanCte
        |SELECT CAST(COUNT(DISTINCT event_date) AS BIGINT) AS n_days,
        |       COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_pct
        |FROM clean
        |WHERE event_date BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'""".stripMargin)),

    // ---- skew DETECTION: the profile run before choosing to salt ---------
    // (two-level aggregate: per-key counts, then corpus-level skew
    // stats + the hottest key with a total-order tie-break; the skew
    // ratio max*n_keys/total is 1.0 for perfectly uniform keys and
    // grows with concentration — exact integers, one final division)
    Q("skew_report",
      (s, d) => {
        val perKey = clean(s, d).groupBy(col("user_id"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // reused by the stats and the hot-key pass
        val stats = perKey.agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("total_rows"),
          max(col("c")).as("max_key_rows"))
        // hottest key = MIN key among those at the max count (a
        // total-order tie-break both engines state identically)
        val hot = perKey
          .crossJoin(broadcast(stats.select(col("max_key_rows").as("mx"))))
          .where(col("c") === col("mx"))
          .agg(min(col("user_id")).as("hottest_key"))
        stats.crossJoin(broadcast(hot)) // 1-row scalar frames
          .select(col("n_keys"), col("total_rows"), col("max_key_rows"),
            col("hottest_key"),
            ((col("max_key_rows") * col("n_keys")).cast("double")
              / col("total_rows")).as("skew_ratio"))
      },
      Some(s"""$CleanCte,
        |pk AS (SELECT user_id, COUNT(*) AS c FROM clean GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |       CAST(SUM(c) AS BIGINT) AS total_rows,
        |       CAST(MAX(c) AS BIGINT) AS max_key_rows,
        |       (SELECT MIN(user_id) FROM pk
        |        WHERE c = (SELECT MAX(c) FROM pk)) AS hottest_key,
        |       CAST(MAX(c) * COUNT(*) AS DOUBLE) / SUM(c) AS skew_ratio
        |FROM pk""".stripMargin)),

    // ---- skew mitigation (100 TB path): the salted two-phase count
    // and the salted replicate-join must be RESULT-IDENTICAL to their
    // plain forms — the oracle is the plain form, so these rows pin
    // that salting changes the distribution, never the answer. --------------
    Q("skew_salted_count",
      (s, d) => graft.operators.Skew.saltedCount(
        clean(s, d), "event_type", "event_id", 8),
      Some(s"""$CleanCte
        |SELECT event_type, COUNT(*) AS n FROM clean GROUP BY event_type""".stripMargin)),

    Q("skew_salted_join",
      (s, d) => {
        val c = clean(s, d)
        val dim = c.groupBy(col("event_type"))
          .agg(count(lit(1)).as("type_total"))
        graft.operators.Skew.saltedJoin(
            c.select(col("event_id"), col("event_type")), dim,
            "event_type", "event_id", 8)
          .groupBy(col("event_type"), col("type_total"))
          .agg(count(lit(1)).as("n_events"))
      },
      Some(s"""$CleanCte,
        |g AS (SELECT event_type, COUNT(*) AS type_total FROM clean GROUP BY 1)
        |SELECT c.event_type, g.type_total, COUNT(*) AS n_events
        |FROM clean c JOIN g USING (event_type)
        |GROUP BY 1, 2""".stripMargin)),

    // ---- S12 raw-SQL entry point (dialect-neutral SQL runs verbatim
    // in both engines) ----------------------------------------------------
    Q("sql_raw_entry",
      (s, d) => Sql.run(s, d,
        """SELECT o_orderpriority, COUNT(*) AS n_orders,
          |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
          |FROM orders GROUP BY o_orderpriority""".stripMargin),
      Some("""SELECT o_orderpriority, COUNT(*) AS n_orders,
        |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // ---- S12 with a join: the raw-SQL surface is not SELECT-only ---------
    Q("sql_join_entry",
      (s, d) => Sql.run(s, d,
        """SELECT n_name, COUNT(*) AS n_customers,
          |       MIN(c_custkey) AS min_custkey
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin),
      Some("""SELECT n_name, COUNT(*) AS n_customers,
        |       MIN(c_custkey) AS min_custkey
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),

    // ---- S12 view layer (dwh.v_today_listening analog) -------------------
    Q("sql_today_view",
      (s, d) => {
        Sql.createTodayView(s, d)
        s.sql("""SELECT event_type, COUNT(*) AS n_events,
          |       COUNT(DISTINCT user_id) AS unique_users
          |FROM v_today_listening GROUP BY event_type""".stripMargin)
      },
      Some("""WITH v_today_listening AS (
        |  SELECT * FROM events
        |  WHERE CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) FROM events))
        |SELECT event_type, COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS unique_users
        |FROM v_today_listening GROUP BY event_type""".stripMargin))
  ) ++ SuiteML.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
