package graft.queries

import graft.{QueryDef, Tables, dr2, dround}
import graft.functions.SketchFunctions.approx_topk
import graft.operators.Aqp
import org.apache.spark.sql.functions._

/** Approximate Query Processing surface (SURVEY.md §1.6, §2.4): stratified
  * sample tables, weighted aggregates with closed-form error bounds, CMS
  * time-series top-k, and Spark's built-in sketches.
  *
  * Oracle strategy: the HT count estimate over a stratified sample is
  * EXACTLY the stratum population count (weights are inverse inclusion
  * probabilities), so q_aqp_count gets a real oracle. The CMS top-k at
  * this cardinality/width is collision-free w.h.p. and its
  * (count desc, key asc) order matches the exact oracle. Value-dependent
  * sample aggregates (avg + CI) are hash-checked too: the sampler's
  * membership hash is engine-portable, so DuckDB replays the exact sample
  * and recomputes the estimator. Engine-private sketches (HLL, quantile)
  * emit accuracy CLAIMS the oracle pins instead.
  */
object AqpQueries {

  /** The lineitem sample is a MATERIALIZED artifact (the reference's
    * CREATE SAMPLE TABLE), not a per-query computation: build it once
    * per (session, data dir) as a managed table and reuse — query runs
    * pay only the sample-sized scan.
    */
  private def sampled(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val g = graft.GraftSession(s)
    val name = s"li_aqp_sample_${dir.hashCode & 0x7fffffff}"
    if (!g.isManaged(name))
      g.createSampleTable(name, Tables.load(s, dir, "lineitem"),
        qcs = Seq("l_returnflag", "l_linestatus"),
        fraction = 0.1, reservoirFloor = 30,
        rankKey = Seq("l_orderkey", "l_linenumber"))
    g.table(name)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- HT count estimate == exact stratum counts (oracle-checkable) ----
    QueryDef.sql(
      "q_aqp_count",
      """SELECT l_returnflag, count(*) AS count_est
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Aqp.approxSumCount(sampled(s, dir), "l_extendedprice", Seq("l_returnflag"))
        .select(col("l_returnflag"),
          dround(col("count_est"), 0).cast("bigint").as("count_est"))
        .orderBy("l_returnflag")
    },

    // ---- WITH ERROR SQL: sample substitution + HT-weighted aggregates.
    // Count estimates are exact per stratum-aligned group (weights are
    // inverse inclusion probabilities) → full oracle on the SQL path ----
    QueryDef.sql(
      "q_aqp_with_error_sql",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val g = graft.GraftSession(s)
      graft.Tables.registerAll(s, dir)
      if (!g.isManaged("li_sample_sql"))
        g.createSampleTable("li_sample_sql", graft.Tables.load(s, dir, "lineitem"),
          qcs = Seq("l_returnflag", "l_linestatus"), fraction = 0.1,
          reservoirFloor = 30, rankKey = Seq("l_orderkey", "l_linenumber"))
      g.registerSample("lineitem", "li_sample_sql")
      try {
        g.sql(
          """SELECT l_returnflag, l_linestatus, count(*) AS n
            |FROM lineitem
            |GROUP BY l_returnflag, l_linestatus
            |ORDER BY l_returnflag, l_linestatus WITH ERROR 0.1""".stripMargin)
      } finally g.samples.remove("lineitem")
    },

    // ---- error result functions (hac_contracts.md): when grouping ==
    // stratification the HT count is exact and every weight in a group is
    // identical, so absolute_error == 0 and the bounds collapse onto the
    // exact count — a DETERMINISTIC oracle for the error-function SQL
    // surface, enforced under BEHAVIOR 'strict' ----
    QueryDef.sql(
      "q_aqp_error_bounds_sql",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(0.0 AS DOUBLE) AS abs_err,
        |  CAST(count(*) AS DOUBLE) AS lo,
        |  CAST(count(*) AS DOUBLE) AS hi
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val g = graft.GraftSession(s)
      graft.Tables.registerAll(s, dir)
      if (!g.isManaged("li_sample_eb"))
        g.createSampleTable("li_sample_eb", graft.Tables.load(s, dir, "lineitem"),
          qcs = Seq("l_returnflag", "l_linestatus"), fraction = 0.1,
          reservoirFloor = 30, rankKey = Seq("l_orderkey", "l_linenumber"))
      g.registerSample("lineitem", "li_sample_eb")
      try {
        g.sql(
          """SELECT l_returnflag, l_linestatus, count(*) AS n,
            |  absolute_error(n) AS abs_err,
            |  lower_bound(n) AS lo, upper_bound(n) AS hi
            |FROM lineitem
            |GROUP BY l_returnflag, l_linestatus
            |ORDER BY l_returnflag, l_linestatus
            |WITH ERROR 0.1 CONFIDENCE 0.95 BEHAVIOR 'strict'""".stripMargin)
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            dround(col("abs_err"), 4).as("abs_err"),
            dr2(col("lo")).as("lo"), dr2(col("hi")).as("hi"))
      } finally g.samples.remove("lineitem")
    },

    // ---- BEHAVIOR local_omit: grouping == stratification ⇒ the HT count's
    // estimated error is exactly 0 (constant weights per group) and it
    // survives an impossible bound, while the avg's real sampling error
    // trips it ⇒ avg comes back NULL. Deterministic either way → oracle ----
    QueryDef.sql(
      "q_aqp_local_omit",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(NULL AS DOUBLE) AS m
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val g = graft.GraftSession(s)
      graft.Tables.registerAll(s, dir)
      if (!g.isManaged("li_sample_lo"))
        g.createSampleTable("li_sample_lo", graft.Tables.load(s, dir, "lineitem"),
          qcs = Seq("l_returnflag", "l_linestatus"), fraction = 0.1,
          reservoirFloor = 30, rankKey = Seq("l_orderkey", "l_linenumber"))
      g.registerSample("lineitem", "li_sample_lo")
      try {
        g.sql(
          """SELECT l_returnflag, l_linestatus, count(*) AS n,
            |  avg(l_extendedprice) AS m
            |FROM lineitem
            |GROUP BY l_returnflag, l_linestatus
            |ORDER BY l_returnflag, l_linestatus
            |WITH ERROR 0.00000001 BEHAVIOR 'local_omit'""".stripMargin)
      } finally g.samples.remove("lineitem")
    },

    // ---- BEHAVIOR partial_run_on_base_table: an impossible bound fails
    // every group, so every group is re-computed EXACTLY on the base table
    // (decimal sums ⇒ order-insensitive) — deterministic → full oracle ----
    QueryDef.sql(
      "q_aqp_partial_run",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS s
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val g = graft.GraftSession(s)
      graft.Tables.registerAll(s, dir)
      if (!g.isManaged("li_sample_pr"))
        g.createSampleTable("li_sample_pr", graft.Tables.load(s, dir, "lineitem"),
          qcs = Seq("l_returnflag", "l_linestatus"), fraction = 0.1,
          reservoirFloor = 30, rankKey = Seq("l_orderkey", "l_linenumber"))
      g.registerSample("lineitem", "li_sample_pr")
      try {
        g.sql(
          """SELECT l_returnflag, l_linestatus, count(*) AS n,
            |  sum(CAST(l_quantity AS DECIMAL(18,4))) AS s
            |FROM lineitem
            |GROUP BY l_returnflag, l_linestatus
            |WITH ERROR 0.00000001 BEHAVIOR 'partial_run_on_base_table'""".stripMargin)
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            dr2(col("s")).cast("double").as("s"))
          .orderBy("l_returnflag", "l_linestatus")
      } finally g.samples.remove("lineitem")
    },

    // ---- weighted avg + closed-form CI, fully hash-checked: the sampler's
    // membership hash is engine-portable (md5-derived), so the oracle
    // REPLAYS the exact sample from the base table and recomputes the
    // stratified-HT estimate, variance and CI in DuckDB ----
    QueryDef.sql(
      "q_aqp_avg_error",
      """WITH sizes AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n_h,
        |    least(count(*), greatest(30, CAST(ceil(count(*) * 0.1) AS BIGINT))) AS target_h
        |  FROM lineitem GROUP BY 1, 2),
        |cand AS (
        |  SELECT li.l_returnflag, li.l_linestatus, li.l_extendedprice, s.n_h
        |  FROM lineitem li JOIN sizes s USING (l_returnflag, l_linestatus)
        |  WHERE CAST('0x' || substr(md5(li.l_orderkey::VARCHAR || '|' || li.l_linenumber::VARCHAR), 1, 10) AS BIGINT)
        |        / 1099511627776.0 < CAST(s.target_h AS DOUBLE) / s.n_h),
        |kept AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS kept_h
        |  FROM cand GROUP BY 1, 2),
        |per_stratum AS (
        |  SELECT c.l_returnflag, c.l_linestatus,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    any_value(CAST(c.n_h AS DOUBLE) / k.kept_h) AS w,
        |    avg(c.l_extendedprice) AS mean,
        |    coalesce(var_samp(c.l_extendedprice), 0.0) AS s2
        |  FROM cand c JOIN kept k USING (l_returnflag, l_linestatus)
        |  GROUP BY 1, 2),
        |grouped AS (
        |  SELECT l_returnflag,
        |    sum(n * w) AS n_est,
        |    sum(n * w * mean) AS total_est,
        |    sum((n * w) * (n * w) * greatest(0.0, 1.0 - n / (n * w)) * s2 / n) AS var_total
        |  FROM per_stratum GROUP BY 1)
        |SELECT l_returnflag,
        |  (sign(total_est / n_est) * floor(abs(total_est / n_est) * 100.0 + 0.5) / 100.0) AS estimate,
        |  (sign(1.959963984540054 * sqrt(var_total) / n_est) * floor(abs(1.959963984540054 * sqrt(var_total) / n_est) * 100.0 + 0.5) / 100.0) AS absolute_error,
        |  (sign(1.959963984540054 * sqrt(var_total) / n_est
        |        / abs(total_est / n_est)) * floor(abs(1.959963984540054 * sqrt(var_total) / n_est
        |        / abs(total_est / n_est)) * 10000.0 + 0.5) / 10000.0) AS relative_error,
        |  (sign(total_est / n_est - 1.959963984540054 * sqrt(var_total) / n_est) * floor(abs(total_est / n_est - 1.959963984540054 * sqrt(var_total) / n_est) * 100.0 + 0.5) / 100.0) AS lower_bound,
        |  (sign(total_est / n_est + 1.959963984540054 * sqrt(var_total) / n_est) * floor(abs(total_est / n_est + 1.959963984540054 * sqrt(var_total) / n_est) * 100.0 + 0.5) / 100.0) AS upper_bound
        |FROM grouped
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Aqp.approxAvgWithError(sampled(s, dir), "l_extendedprice",
          qcs = Seq("l_returnflag", "l_linestatus"),
          groupBy = Seq("l_returnflag"), confidence = 0.95)
        .select(col("l_returnflag"),
          dr2(col("estimate")).as("estimate"),
          dr2(col("absolute_error")).as("absolute_error"),
          dround(col("relative_error"), 4).as("relative_error"),
          dr2(col("lower_bound")).as("lower_bound"),
          dr2(col("upper_bound")).as("upper_bound"))
        .orderBy("l_returnflag")
    },

    // ---- bootstrap error estimation (reference NumBootStrapTrials):
    // poissonized resampling with a counter-based multiplier stream is
    // fully deterministic, so its CI claims are stable facts the oracle
    // pins — containment of the true mean, interval ordering, and an
    // error magnitude inside a wide measured band (rel. err. < 10% at
    // fraction 0.1; measured ≈1% at both SFs) ----
    QueryDef.sql(
      "q_aqp_bootstrap",
      """SELECT l_returnflag,
        |  CAST(1 AS BOOLEAN) AS ci_contains_truth,
        |  CAST(1 AS BOOLEAN) AS ci_ordered,
        |  CAST(1 AS BOOLEAN) AS err_scale_sane,
        |  200 AS trials
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.SampleRewrite
      val g = graft.GraftSession(s)
      graft.Tables.registerAll(s, dir)
      val name = s"li_aqp_sample_${dir.hashCode & 0x7fffffff}"
      if (!g.isManaged(name))
        g.createSampleTable(name, Tables.load(s, dir, "lineitem"),
          qcs = Seq("l_returnflag", "l_linestatus"),
          fraction = 0.1, reservoirFloor = 30,
          rankKey = Seq("l_orderkey", "l_linenumber"))
      g.registerSample("lineitem", name)
      s.conf.set(SampleRewrite.CLOSED_FORM_KEY, "false")
      s.conf.set(SampleRewrite.TRIALS_KEY, "200")
      val ci =
        try g.sql(
          """SELECT l_returnflag, avg(l_extendedprice) AS m,
            |  absolute_error(m) AS e, lower_bound(m) AS lo, upper_bound(m) AS hi
            |FROM lineitem GROUP BY l_returnflag
            |WITH ERROR 0.9 CONFIDENCE 0.95 BEHAVIOR 'do_nothing'""".stripMargin)
        finally {
          s.conf.unset(SampleRewrite.CLOSED_FORM_KEY)
          s.conf.unset(SampleRewrite.TRIALS_KEY)
          g.samples.remove("lineitem")
        }
      val exact = Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag").agg(avg("l_extendedprice").as("t"))
      ci.join(broadcast(exact), "l_returnflag")
        .select(col("l_returnflag"),
          (col("lo") <= col("t") && col("t") <= col("hi")).as("ci_contains_truth"),
          (col("lo") <= col("m") && col("m") <= col("hi")).as("ci_ordered"),
          (col("e") > 0 && col("e") < col("m") * 0.1).as("err_scale_sane"),
          lit(200).as("trials"))
        .orderBy("l_returnflag")
    },

    // ---- CMS time-series top-k vs exact oracle ----
    QueryDef.sql(
      "q_approx_topk_ts",
      """SELECT day, rank, user_key, cnt
        |FROM (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(user_id AS VARCHAR) AS user_key, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY strftime(date_trunc('day', ts), '%Y-%m-%d')
        |      ORDER BY count(*) DESC, CAST(user_id AS VARCHAR)) AS rank
        |  FROM events
        |  GROUP BY 1, 2) t
        |WHERE rank <= 5
        |ORDER BY day, rank""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        // width per the sizing rule (>= 10x key cardinality, PERF_NOTES
        // and CmsRangeMergeSpec): the default 4096 measurably inflated a
        // colliding key to a tie it then won on the string tie-break at
        // sf0.1 (user 1460, day 2024-01-11 — caught by a full-suite
        // oracle sweep at sf0.1; the sf0.01 gate never sees it)
        .agg(approx_topk(col("user_id"), 5, width = 16384).as("topk"))
        .select(col("day"), posexplode(col("topk")))
        .select(col("day"), (col("pos") + 1).as("rank"),
          col("col.key").as("user_key"), col("col.count").as("cnt"))
        .orderBy("day", "rank")
    },

    // ---- queryApproxTSTopK range-merge (Hokusai, reference
    // docs/sde/sketching.md + SnappySession.queryApproxTSTopK:2162):
    // createApproxTSTopK persists ONE CMS sketch per epoch; an arbitrary
    // [start, end) query merges the covered epochs' sketches — additive
    // counters make the answer equal a single sketch over the union
    // (CmsRangeMergeSpec pins the equivalence AND the key-only-big-in-
    // aggregate case the materialized per-epoch rows cannot answer).
    // Oracle: the exact one-week counts — the sketch estimates are
    // deterministic and collision-free at these cardinalities, so the
    // hash compare is exact, not a claim. ----
    QueryDef.sql(
      "q_approx_topk_ts_range",
      """SELECT CAST(user_id AS VARCHAR) AS user_key,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY 1
        |ORDER BY cnt DESC, user_key
        |LIMIT 5""".stripMargin) { (s, dir) =>
      val g = graft.GraftSession(s)
      val name = s"tk_events_${dir.hashCode & 0x7fffffff}"
      if (!g.isManaged(name)) {
        g.createApproxTSTopK(name,
          Tables.load(s, dir, "events")
            .select(col("ts"), col("user_id").cast("string").as("user_key")),
          "user_key", "ts", "1 day", 5, width = 16384)
      }
      g.queryApproxTSTopK(name,
        "2024-01-05 00:00:00", "2024-01-12 00:00:00", 5)
        .select(col("key").as("user_key"), col("count").as("cnt"))
    },

    // ---- built-in sketches: HLL distinct + approximate quantiles.
    // Oracle: the exact distinct count (hash-checked value) plus two
    // accuracy CLAIMS the oracle pins — the HLL estimate at rsd 0.02 must
    // land within 5% of exact (measured ≤ 3% at both SFs,
    // graft.tools.AccuracyProbe), and the approx median (accuracy 1000 ⇒
    // rank error ≤ 0.1%) must sit between the exact 49th and 51st
    // percentiles. Sketch internals are engine-specific; the bounds are
    // not. The rank claim is verified by COUNTING rows on either side of
    // the sketch median (two codegen'd hash aggregates + a broadcast of
    // one row per group) — never by an exact percentile() aggregate,
    // which buffers every group value in memory and is the wrong shape
    // at 100 TB. m ≥ p49 ⟺ frac(x ≤ m) ≥ 0.49; m ≤ p51 ⟺
    // frac(x < m) ≤ 0.51. ----
    QueryDef.sql(
      "q_approx_sketches",
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  CAST(1 AS BOOLEAN) AS hll_within_5pct,
        |  CAST(1 AS BOOLEAN) AS median_within_rank
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      // KEEP countDistinct in its own aggregation: mixing a DISTINCT
      // aggregate (Expand) with a typed-imperative one (percentile_approx
      // forces ObjectHashAggregate for the whole node) measured 11 s where
      // the two separate aggregations take 1.3 s combined (PERF_NOTES §50).
      val distincts = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      val approxes = li.groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("median_approx"))
      // 3 rows — materialize once; it feeds both the broadcast side of
      // the rank count and the final join
      val sketches = approxes.join(distincts, "l_returnflag")
        .localCheckpoint(true)
      val ranks = li.select(col("l_returnflag").as("rf"), col("l_extendedprice"))
        .join(broadcast(sketches.select(col("l_returnflag").as("rf"),
          col("median_approx"))), "rf")
        .groupBy("rf")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") <= col("median_approx"), 1L)
            .otherwise(0L)).as("n_le"),
          sum(when(col("l_extendedprice") < col("median_approx"), 1L)
            .otherwise(0L)).as("n_lt"))
      sketches.join(ranks, col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders")) <=
            col("exact_orders").cast("double") * 0.05).as("hll_within_5pct"),
          (col("n_le").cast("double") >= col("n") * 0.49 &&
            col("n_lt").cast("double") <= col("n") * 0.51).as("median_within_rank"))
        .orderBy("l_returnflag")
    },

    // ---- store-fused distinct sketches: a sketch_columns table answers
    // APPROX COUNT DISTINCT from per-batch HLL digests in the refs —
    // O(batches) driver metadata, payloads untouched (the stats-row AQP
    // fusion; spec-proven bit-compatible with Spark's hll_* functions).
    // The oracle pins the EXACT counts and the accuracy claim; the
    // estimate itself is engine-internal, so the hashed surface is
    // (exact, within-5%-boolean) — the q_ann/q_hard_negatives oracle
    // pattern for approximate operators. ----
    QueryDef.sql(
      "q_approx_distinct_stats",
      """SELECT * FROM (
        |  SELECT 'o_custkey' AS col_name,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_nd,
        |    true AS within_5pct FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority' AS col_name,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS exact_nd,
        |    true AS within_5pct FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus' AS col_name,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS exact_nd,
        |    true AS within_5pct FROM orders)
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.store.GraftStoreOps
      val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
      val cols = Seq("o_custkey", "o_orderpriority", "o_orderstatus")
      Tables.load(s, dir, "orders")
        .write.format(fmt).option("table", "q_adx")
        .option("batch_size", "4096")
        .option("sketch_columns", cols.mkString(","))
        .mode("overwrite").save()
      val stored = s.read.format(fmt).option("table", "q_adx").load()
      val exact = stored.agg(
        countDistinct(col("o_custkey")).as("o_custkey"),
        countDistinct(col("o_orderpriority")).as("o_orderpriority"),
        countDistinct(col("o_orderstatus")).as("o_orderstatus")).head()
      val rows = cols.map { c =>
        val ex = exact.getAs[Long](c)
        val est = GraftStoreOps.approxDistinct(s, "q_adx", c)
        // +2 absolute slack keeps tiny-cardinality columns (3 distinct
        // statuses) from failing on integer rounding of the estimate
        (c, ex, math.abs(est - ex) <= ex * 0.05 + 2)
      }
      import s.implicits._
      rows.toDF("col_name", "exact_nd", "within_5pct").orderBy("col_name")
    }
  )
}
