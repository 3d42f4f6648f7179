package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / event-log analytics over the `events` table: tumbling
  * window aggregation, sessionization, semi-structured (JSON-ish) field
  * extraction, and batch CDC-apply (the batch twin of the streaming
  * upsert sink semantics — reference streaming/SnappySinkCallback.scala:119-236,
  * where events carry an _eventType and the latest event per key wins).
  *
  * Timestamps are emitted as formatted strings: the source column is
  * nanosecond-precision parquet, which Spark truncates to micros while
  * DuckDB keeps ns — strings at second/hour granularity are engine-neutral.
  */
object EventQueries {

  private def r2(c: Column): Column = graft.dr2(c)

  val defs: Seq[QueryDef] = Seq(

    // ---- ordered funnel with a per-step time bound: users completing
    // view -> click -> purchase, each step within 24h of the previous.
    // The per-step cohort aggregation chain shuffles (user, ts) pairs
    // only and shrinks monotonically — no full-stream windows, no
    // per-user event collection ----
    QueryDef.sql(
      "q_events_funnel_steps",
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY e.user_id)
        |SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.funnel(Tables.load(s, dir, "events"),
          "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), maxGap = "24 HOUR")
        .orderBy("step")
    },

    // ---- weekly cohort retention matrix: users by first-seen week,
    // counted in each later week they were active ----
    QueryDef.sql(
      "q_events_retention",
      """WITH firsts AS (
        |  SELECT user_id, min(date_trunc('week', ts)) AS cohort
        |  FROM events GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', cohort, wk) / 7 AS INT) AS period_offset,
        |  count(*) AS n_users
        |FROM active JOIN firsts USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort, period_offset""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.retention(Tables.load(s, dir, "events"),
          "user_id", "ts", period = "week")
        .orderBy("cohort", "period_offset")
    },

    // ---- tumbling-window aggregation (batch twin of stream windowing) ----
    QueryDef.sql(
      "q_events_hourly",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |  event_type,
        |  count(*) AS n,
        |  (sign(sum("value")) * floor(abs(sum("value")) * 100.0 + 0.5) / 100.0) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(
          date_format(window(col("ts"), "1 hour").getField("start"), "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    },

    // ---- sessionization: 30-min inactivity gap, window-function based ----
    // Gap compares microsecond epochs (both engines truncate the source's
    // ns timestamps to µs identically) — a 30min boundary case on a
    // second-granularity cast would diverge between engines.
    QueryDef.sql(
      "q_events_sessionize",
      """WITH marked AS (
        |  SELECT user_id, event_id, "value", epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - coalesce(lag(epoch_us(ts)) OVER w, epoch_us(ts))
        |              > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, "value",
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, (sign(sum("value")) * floor(abs(sum("value")) * 100.0 + 0.5) / 100.0) AS session_value
        |FROM sessions
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("new_session",
          when(col("ts_us") - coalesce(lag(col("ts_us"), 1).over(w), col("ts_us")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(wRows).cast("bigint"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), r2(sum(col("value"))).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // ---- native session windows (session_window) — oracle is the
    // window-function gap formulation, which produces identical maximal
    // sessions for a 30-min gap ----
    QueryDef.sql(
      "q_events_session_window",
      """WITH marked AS (
        |  SELECT user_id, "value", epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - coalesce(lag(epoch_us(ts)) OVER w, epoch_us(ts))
        |              >= 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, "value", ts_us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts_us) AS session_start_us, count(*) AS n_events,
        |  (sign(sum("value")) * floor(abs(sum("value")) * 100.0 + 0.5) / 100.0) AS session_value
        |FROM sessions
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), graft.dr2(sum(col("value"))).as("session_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start_us"))
    },

    // ---- semi-structured field extraction from the props JSON string ----
    QueryDef.sql(
      "q_events_json",
      """SELECT k_bucket, count(*) AS n, (sign(avg("value")) * floor(abs(avg("value")) * 100.0 + 0.5) / 100.0) AS avg_value
        |FROM (SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) % 10 AS k_bucket,
        |             "value"
        |      FROM events) t
        |GROUP BY k_bucket
        |ORDER BY k_bucket""".stripMargin) { (s, dir) =>
      // regexp_extract, not get_json_object: the same single-key
      // extraction the oracle runs, and RegExpExtract is codegen'd while
      // GetJsonObject is a CodegenFallback that breaks the
      // scan→project→partial-agg whole-stage pipeline (2.4×, PERF_NOTES §50)
      Tables.load(s, dir, "events")
        .select(
          (regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("bigint") % 10)
            .as("k_bucket"),
          col("value"))
        .groupBy(col("k_bucket"))
        .agg(count(lit(1)).as("n"), r2(avg(col("value"))).as("avg_value"))
        .orderBy(col("k_bucket"))
    },

    // ---- batch CDC-apply: latest event per user wins (upsert compaction) ----
    QueryDef.sql(
      "q_events_cdc_latest",
      """SELECT user_id, event_id, event_type, (sign("value") * floor(abs("value") * 100.0 + 0.5) / 100.0) AS value
        |FROM (SELECT user_id, event_id, event_type, "value",
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")).desc, col("event_id").desc)
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), r2(col("value")).as("value"))
        .orderBy(col("user_id"))
    },

    // ---- as-of join: each purchase enriched with the latest prior
    // signup of the same user (union-window implementation; DuckDB's
    // native ASOF JOIN is the oracle) ----
    QueryDef.sql(
      "q_asof_join",
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
        |             (sign("value") * floor(abs("value") * 100.0 + 0.5) / 100.0) AS val FROM events)
        |SELECT l.event_id, l.user_id, l.val,
        |  r.event_id AS asof_event_id, r.ts_us AS asof_ts_us
        |FROM (SELECT * FROM e WHERE event_type = 'purchase') l
        |  ASOF LEFT JOIN (SELECT * FROM e WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("val", graft.dr2(col("value")))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "val")
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      graft.operators.AsofJoin.asofJoin(
          purchases, signups, by = Seq("user_id"),
          leftTs = "ts_us", rightTs = "ts_us", rightOrder = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("val"),
          col("asof_event_id"), col("asof_ts_us"))
        .orderBy("event_id")
    },

    // ---- event funnel: users who signed up then purchased (ordered pair) ----
    QueryDef.sql(
      "q_events_funnel",
      """SELECT count(*) AS n_converted
        |FROM (
        |  SELECT s.user_id
        |  FROM (SELECT user_id, min(epoch_us(ts)) AS first_signup FROM events
        |        WHERE event_type = 'signup' GROUP BY user_id) s
        |  JOIN (SELECT user_id, max(epoch_us(ts)) AS last_purchase FROM events
        |        WHERE event_type = 'purchase' GROUP BY user_id) p
        |    ON s.user_id = p.user_id AND p.last_purchase > s.first_signup) t""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("first_signup"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(max(unix_micros(col("ts"))).as("last_purchase"))
        .withColumnRenamed("user_id", "p_user_id")
      signups.join(purchases,
          col("user_id") === col("p_user_id") && col("last_purchase") > col("first_signup"))
        .agg(count(lit(1)).as("n_converted"))
    },

    // ---- DAU/WAU engagement: per week, the mean daily active users,
    // the weekly active users, and the stickiness ratio — two
    // user-distinct aggregations and a week-keyed join ----
    QueryDef.sql(
      "q_events_dau_wau",
      """WITH daily AS (
        |  SELECT date_trunc('week', ts) AS wk, date_trunc('day', ts) AS day,
        |    count(DISTINCT user_id) AS dau
        |  FROM events GROUP BY wk, day),
        |weekly AS (
        |  SELECT date_trunc('week', ts) AS wk, count(DISTINCT user_id) AS wau
        |  FROM events GROUP BY wk)
        |SELECT strftime(d.wk, '%Y-%m-%d') AS week,
        |  (sign(avg(CAST(dau AS DOUBLE))) * floor(abs(avg(CAST(dau AS DOUBLE))) * 10000.0 + 0.5) / 10000.0) AS avg_dau,
        |  any_value(wau) AS wau,
        |  (sign(avg(CAST(dau AS DOUBLE)) / any_value(wau)) * floor(abs(avg(CAST(dau AS DOUBLE)) / any_value(wau)) * 10000.0 + 0.5) / 10000.0) AS stickiness
        |FROM daily d JOIN weekly w USING (wk)
        |GROUP BY d.wk ORDER BY week""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val daily = ev.groupBy(date_trunc("week", col("ts")).as("wk"),
          date_trunc("day", col("ts")).as("day"))
        .agg(count_distinct(col("user_id")).as("dau"))
      val weekly = ev.groupBy(date_trunc("week", col("ts")).as("wk"))
        .agg(count_distinct(col("user_id")).as("wau"))
      daily.join(weekly, "wk")
        .groupBy(col("wk"))
        .agg(graft.dround(avg(col("dau").cast("double")), 4).as("avg_dau"),
          first(col("wau")).as("wau"),
          graft.dround(avg(col("dau").cast("double")) / first(col("wau")), 4)
            .as("stickiness"))
        .select(date_format(col("wk"), "yyyy-MM-dd").as("week"),
          col("avg_dau"), col("wau"), col("stickiness"))
        .orderBy("week")
    },

    // ---- behavioral transition matrix (first-order Markov counts):
    // consecutive event-type pairs per user in (ts, id) order — the
    // "what do users do next" analysis behind path/flow charts. One
    // user-keyed window pass carrying (type, ts, id); counts reduce
    // map-side to the |types|² matrix ----
    QueryDef.sql(
      "q_events_transitions",
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS n
        |FROM o WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, next_type
        |ORDER BY prev_type, next_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "next_type")
    },

    // ---- per-type z-score standardization of event values (feature
    // normalization): one stats agg per type (bounded), broadcast back,
    // scan-fused transform ----
    QueryDef.sql(
      "q_zscore_events",
      """WITH s AS (
        |  SELECT event_type, avg("value") AS mu, stddev_samp("value") AS sd
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type,
        |  (sign(("value" - mu) / nullif(sd, 0)) * floor(abs(("value" - mu) / nullif(sd, 0)) * 10000.0 + 0.5) / 10000.0) AS z
        |FROM events e JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val stats = ev.groupBy("event_type")
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      ev.join(stats, "event_type")
        .select(col("event_id"), col("event_type"),
          // nullif(sd, 0): a constant-valued type has sd = 0 and would
          // emit NaN z-scores (0/0), which no oracle hash can match
          graft.dround((col("value") - col("mu")) /
            when(col("sd") =!= 0.0, col("sd")), 4).as("z"))
        .orderBy("event_id")
    },

    // ---- hourly volume anomaly flags per event type: hours whose count
    // exceeds that type's mean + 2 sigma across hours; the threshold is
    // rounded on both sides so constant-volume types (sd = 0, threshold
    // = the count itself) can't flip on an engine ulp ----
    QueryDef.sql(
      "q_events_anomaly",
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        |  FROM events GROUP BY event_type, hr),
        |s AS (
        |  SELECT event_type,
        |    (sign(avg(n) + 2 * coalesce(stddev_samp(n), 0)) * floor(abs(avg(n) + 2 * coalesce(stddev_samp(n), 0)) * 1000000.0 + 0.5) / 1000000.0) AS thr
        |  FROM h GROUP BY event_type)
        |SELECT h.event_type, epoch_us(hr) AS hr_us, n, n > thr AS is_anomaly
        |FROM h JOIN s USING (event_type)
        |ORDER BY event_type, hr_us""".stripMargin) { (s, dir) =>
      val hourly = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val thr = hourly.groupBy("event_type")
        .agg(graft.dround(
          avg(col("n")) + lit(2) * coalesce(stddev_samp(col("n")), lit(0.0)),
          6).as("thr"))
      hourly.join(thr, "event_type")
        .select(col("event_type"), unix_micros(col("hr")).as("hr_us"),
          col("n"), (col("n") > col("thr")).as("is_anomaly"))
        .orderBy("event_type", "hr_us")
    },

    // ---- last-touch attribution: every purchase credited to the user's
    // latest click/view strictly before it and within 1 hour; organic
    // purchases keep NULL attribution. One user-keyed window pass — the
    // oracle replays it with three IGNORE-NULLS last_value calls that
    // all pick the same preceding-touch row ----
    QueryDef.sql(
      "q_events_attribution",
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
        |a AS (
        |  SELECT event_id, user_id, event_type, ts_us,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN ts_us END
        |      IGNORE NULLS) OVER w AS t_ts,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_id END
        |      IGNORE NULLS) OVER w AS t_id,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
        |      IGNORE NULLS) OVER w AS t_typ
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS conversion_id, user_id, ts_us AS conv_ts_us,
        |  CASE WHEN t_ts >= ts_us - 3600000000 THEN t_id END AS touch_id,
        |  CASE WHEN t_ts >= ts_us - 3600000000 THEN t_typ END AS touch_type,
        |  CASE WHEN t_ts >= ts_us - 3600000000 THEN ts_us - t_ts END AS gap_us
        |FROM a WHERE event_type = 'purchase'
        |ORDER BY conversion_id""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.lastTouchAttribution(
          Tables.load(s, dir, "events"), "user_id", "ts", "event_type",
          "event_id", touchTypes = Seq("click", "view"),
          convType = "purchase", maxGapUs = 3600000000L)
        .orderBy("conversion_id")
    },

    // ---- path mining: most frequent 3-step event-type sequences (the
    // k-step generalization of the transition matrix: one user-keyed
    // window pass, count agg bounded by |types|³) ----
    QueryDef.sql(
      "q_events_paths",
      """WITH s AS (
        |  SELECT event_type AS step_1,
        |    lead(event_type, 1) OVER w AS step_2,
        |    lead(event_type, 2) OVER w AS step_3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step_1, step_2, step_3, count(*) AS n_paths
        |FROM s WHERE step_1 IS NOT NULL AND step_2 IS NOT NULL AND step_3 IS NOT NULL
        |GROUP BY step_1, step_2, step_3
        |ORDER BY n_paths DESC, step_1, step_2, step_3 LIMIT 10""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.topPaths(Tables.load(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id", steps = 3, k = 10)
    },

    // ---- session-duration distribution: sessionized durations into
    // fixed engagement bands (bounce / short / medium / long) — fixed
    // boundaries keep the assignment portable; the sessionize pass is
    // the same one user-keyed window chain as q_events_sessionize ----
    QueryDef.sql(
      "q_events_session_hist",
      """WITH marked AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - coalesce(lag(epoch_us(ts)) OVER w, epoch_us(ts))
        |              > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts_us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked),
        |dur AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    (max(ts_us) - min(ts_us)) / 1000000 AS dur_s
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT CASE WHEN n_events = 1 THEN 'bounce'
        |            WHEN dur_s < 300 THEN 'short'
        |            WHEN dur_s < 3600 THEN 'medium'
        |            ELSE 'long' END AS band,
        |  count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events
        |FROM dur GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("new_session",
          when(col("ts_us") - coalesce(lag(col("ts_us"), 1).over(w), col("ts_us")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(wRows))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          ((max(col("ts_us")) - min(col("ts_us"))) / 1000000L).as("dur_s"))
        .select(
          when(col("n_events") === 1, "bounce")
            .when(col("dur_s") < 300, "short")
            .when(col("dur_s") < 3600, "medium")
            .otherwise("long").as("band"),
          col("n_events"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .orderBy("band")
    },

    // ---- RFM segmentation (CRM/user-value analytics): recency from the
    // corpus's last day, purchase frequency, monetary total; fixed-band
    // segments keep the assignment engine-portable (quantile bands are
    // the q_length_deciles pattern if needed). One user-keyed agg plus a
    // broadcast single-row max ----
    QueryDef.sql(
      "q_events_rfm",
      """WITH mx AS (SELECT CAST(max(ts) AS DATE) AS max_d FROM events),
        |u AS (
        |  SELECT user_id,
        |    date_diff('day', CAST(max(ts) AS DATE), mx.max_d) AS r_days,
        |    CAST(count(*) AS BIGINT) AS f,
        |    (sign(CAST(sum(CASE WHEN event_type = 'purchase' THEN value
        |      ELSE 0 END) AS DOUBLE)) * floor(abs(CAST(sum(CASE WHEN event_type = 'purchase' THEN value
        |      ELSE 0 END) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0) AS m_r
        |  FROM events, mx GROUP BY user_id, mx.max_d)
        |SELECT user_id, r_days, f, m_r,
        |  CASE WHEN r_days <= 7 AND f >= 20 AND m_r > 100 THEN 'champion'
        |       WHEN r_days <= 7 THEN 'recent'
        |       WHEN f >= 20 THEN 'frequent'
        |       ELSE 'dormant' END AS segment
        |FROM u ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val mx = ev.agg(to_date(max(col("ts"))).as("max_d"))
      ev.groupBy("user_id")
        .agg(max(col("ts")).as("__last"),
          count(lit(1)).as("f"),
          graft.dround(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0))), 4).as("m_r"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"),
          datediff(col("max_d"), to_date(col("__last"))).cast("long").as("r_days"),
          col("f"), col("m_r"))
        .withColumn("segment",
          when(col("r_days") <= 7 && col("f") >= 20 && col("m_r") > 100, "champion")
            .when(col("r_days") <= 7, "recent")
            .when(col("f") >= 20, "frequent")
            .otherwise("dormant"))
        .orderBy("user_id")
    }
  )
}
