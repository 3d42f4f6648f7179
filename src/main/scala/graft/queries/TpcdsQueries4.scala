package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-DS-shaped waves 6-11 (reference: cluster/src/test/.../benchmark/
  * snappy/tpcds/): wave 11 is q37/q82's inventory-availability window
  * (price-banded dim ⋈ windowed+banded fact, sold-check semi-join) and
  * q95's double-EXISTS supplier overlap; wave 7 is q11's cross-multiplied year-over-year
  * preference-shift ratio (`q_ds_spend_shift`); wave 6 is the two
  * harness mechanics the earlier waves still missed —
  * q67's windowed top-k over a ROLLUP hierarchy (rank the rollup output
  * within each category partition, keep only the leaders — the "market
  * share report" shape), and q41's mutual-exclusion HAVING (groups that
  * HAVE one attribute combination and categorically LACK another,
  * expressed as paired conditional aggregates, never a self-join).
  *
  * Parity notes: revenue is summed in exact 10⁻⁴-dollar units
  * (DECIMAL(18,4) * 10000 → BIGINT, the q_ds_returns_net idiom) so no
  * float rounding can flip a rank; rank ties break on the brand name.
  */
object TpcdsQueries4 {

  val defs: Seq[QueryDef] = Seq(

    // ---- q67 shape: rollup(category, brand) revenue, ranked within each
    // hierarchy level + category partition, top-3 kept. The fact is
    // reduced to the full grouping key FIRST and the rollup's Expand
    // runs over that pre-agg (PERF_NOTES §24); the window runs over the
    // rollup OUTPUT (|types|·|brands| rows — metadata scale), so the
    // rank+filter cost is invisible at 100 TB. ----
    QueryDef.sql(
      "q_ds_category_topk",
      """WITH g AS (
        |  SELECT p_type, p_brand,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000) AS BIGINT) AS rev_e4,
        |    CAST(GROUPING(p_type) + GROUPING(p_brand) AS INTEGER) AS lochierarchy,
        |    CAST(GROUPING(p_brand) AS INTEGER) AS gb
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY ROLLUP(p_type, p_brand))
        |SELECT p_type, p_brand, rev_e4, lochierarchy, rk FROM (
        |  SELECT p_type, p_brand, rev_e4, lochierarchy,
        |    rank() OVER (PARTITION BY lochierarchy,
        |                   CASE WHEN gb = 0 THEN p_type END
        |                 ORDER BY rev_e4 DESC, coalesce(p_brand, '')) AS rk
        |  FROM g)
        |WHERE rk <= 3
        |ORDER BY lochierarchy, coalesce(p_type, ''), rk""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val part = Tables.load(s, dir, "part")
      // pre-aggregate on the FULL grouping key, then rollup the pre-agg
      // (valid: sum reassociates) — Spark's rollup plans an Expand that
      // triplicates its input before the partial aggregate, so feeding
      // it |types·brands| pre-agg rows instead of the fact join is 1.9×
      // (1.33 → 0.69 s min-of-5 at sf0.1, PERF_NOTES §24) and the gap
      // grows with fact size
      val pre = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("p_brand"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)") * 10000).as("prev"))
      val g = pre.rollup(col("p_type"), col("p_brand"))
        .agg(
          sum(col("prev")).cast("long").as("rev_e4"),
          (grouping(col("p_type")) + grouping(col("p_brand")))
            .cast("int").as("lochierarchy"),
          grouping(col("p_brand")).cast("int").as("gb"))
      val w = Window
        .partitionBy(col("lochierarchy"), when(col("gb") === 0, col("p_type")))
        .orderBy(col("rev_e4").desc, coalesce(col("p_brand"), lit("")))
      g.withColumn("rk", rank().over(w))
        .filter(col("rk") <= 3)
        .select("p_type", "p_brand", "rev_e4", "lochierarchy", "rk")
        .orderBy(col("lochierarchy"), coalesce(col("p_type"), lit("")), col("rk"))
    },

    // ---- q11 shape: year-over-year preference shift — customers whose
    // PER-ORDER spend grew 1996→1997, compared by INTEGER cross-
    // multiplication (s97·n96 > s96·n97) so no division and no float
    // ever touches the comparison; zero-guards keep single-year
    // customers out (q11's NULL-ratio CASE). One conditional-agg pass
    // over orders, customer join only on the survivors. ----
    QueryDef.sql(
      "q_ds_spend_shift",
      """WITH y AS (
        |  SELECT o_custkey AS ck,
        |    CAST(sum(CASE WHEN yr = 1996 THEN cents ELSE 0 END) AS BIGINT) AS s96,
        |    CAST(sum(CASE WHEN yr = 1997 THEN cents ELSE 0 END) AS BIGINT) AS s97,
        |    CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n96,
        |    CAST(sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS n97
        |  FROM (
        |    SELECT o_custkey, year(o_orderdate) AS yr,
        |      CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
        |    FROM orders WHERE year(o_orderdate) IN (1996, 1997))
        |  GROUP BY 1)
        |SELECT c_mktsegment, count(*) AS n_shifted,
        |  CAST(sum(s97 - s96) AS BIGINT) AS spend_delta_c
        |FROM y JOIN customer ON ck = c_custkey
        |WHERE n96 > 0 AND n97 > 0
        |  AND CAST(s97 AS DECIMAL(38,0)) * n96 > CAST(s96 AS DECIMAL(38,0)) * n97
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
          (col("o_totalprice").cast("decimal(18,4)") * 100)
            .cast("long").as("cents"))
      val cust = Tables.load(s, dir, "customer")
      def cs(y: Int) = sum(when(col("yr") === y, col("cents")).otherwise(0L)).cast("long")
      def cn(y: Int) = sum(when(col("yr") === y, 1L).otherwise(0L)).cast("long")
      val y = ord.groupBy(col("o_custkey").as("ck"))
        .agg(cs(1996).as("s96"), cs(1997).as("s97"),
          cn(1996).as("n96"), cn(1997).as("n97"))
        .filter(col("n96") > 0 && col("n97") > 0 &&
          col("s97").cast("decimal(38,0)") * col("n96") >
            col("s96").cast("decimal(38,0)") * col("n97"))
      y.join(cust, col("ck") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_shifted"),
          sum(col("s97") - col("s96")).cast("long").as("spend_delta_c"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- q41 shape: mutual-exclusion HAVING over the part dimension —
    // brands that DO sell small economy parts and categorically DON'T
    // sell jumbo promo parts. One aggregate pass over the dimension (the
    // reference formulates this as a correlated count subquery; the
    // conditional-aggregate HAVING is the same semantics with no
    // self-join — dimension-bounded, never fact-scale). ----
    QueryDef.sql(
      "q_ds_mutual_exclusion",
      """SELECT p_brand, count(*) AS n_parts,
        |  CAST(count(DISTINCT CASE WHEN p_size <= 10 AND p_type = 'ECONOMY'
        |    THEN p_name END) AS BIGINT) AS n_small_econ_names
        |FROM part
        |GROUP BY p_brand
        |HAVING sum(CASE WHEN p_size <= 10 AND p_type = 'ECONOMY' THEN 1 ELSE 0 END) > 0
        |   AND sum(CASE WHEN p_size >= 45 AND p_type = 'PROMO' THEN 1 ELSE 0 END) = 0
        |ORDER BY p_brand""".stripMargin) { (s, dir) =>
      val part = Tables.load(s, dir, "part")
      val smallEcon = col("p_size") <= 10 && col("p_type") === "ECONOMY"
      val jumboPromo = col("p_size") >= 45 && col("p_type") === "PROMO"
      part.groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_parts"),
          countDistinct(when(smallEcon, col("p_name"))).cast("long")
            .as("n_small_econ_names"),
          sum(when(smallEcon, 1).otherwise(0)).as("_has_small"),
          sum(when(jumboPromo, 1).otherwise(0)).as("_has_jumbo"))
        .filter(col("_has_small") > 0 && col("_has_jumbo") === 0)
        .select("p_brand", "n_parts", "n_small_econ_names")
        .orderBy(col("p_brand"))
    },

    // ---- q88 shape (wave 8): the multi-band cross-count — the
    // reference harness writes it as 8 scalar subqueries cross-joined
    // into one row, each re-scanning the fact for a different band
    // (cluster/.../tpcds/ q88: 8 half-hour store_sales windows). The
    // oracle keeps that 8-subquery formulation; the Spark side is the
    // single-pass rewrite — ONE fact scan with 8 conditional counts —
    // which is the whole point at 100 TB: 1/8th the IO of the literal
    // plan, identical row. ----
    QueryDef.sql(
      "q_ds_band_counts",
      """SELECT * FROM
        |  (SELECT CAST(count(*) AS BIGINT) AS b1 FROM lineitem
        |   WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_returnflag <> 'R'
        |     AND l_quantity >= 1 AND l_quantity <= 6) t1,
        |  (SELECT CAST(count(*) AS BIGINT) AS b2 FROM lineitem
        |   WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_returnflag <> 'R'
        |     AND l_quantity >= 7 AND l_quantity <= 12) t2,
        |  (SELECT CAST(count(*) AS BIGINT) AS b3 FROM lineitem
        |   WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_returnflag <> 'R'
        |     AND l_quantity >= 13 AND l_quantity <= 18) t3,
        |  (SELECT CAST(count(*) AS BIGINT) AS b4 FROM lineitem
        |   WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_returnflag <> 'R'
        |     AND l_quantity >= 19 AND l_quantity <= 24) t4,
        |  (SELECT CAST(count(*) AS BIGINT) AS b5 FROM lineitem
        |   WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_returnflag <> 'R'
        |     AND l_quantity >= 25 AND l_quantity <= 30) t5,
        |  (SELECT CAST(count(*) AS BIGINT) AS b6 FROM lineitem
        |   WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_returnflag <> 'R'
        |     AND l_quantity >= 31 AND l_quantity <= 36) t6,
        |  (SELECT CAST(count(*) AS BIGINT) AS b7 FROM lineitem
        |   WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_returnflag <> 'R'
        |     AND l_quantity >= 37 AND l_quantity <= 42) t7,
        |  (SELECT CAST(count(*) AS BIGINT) AS b8 FROM lineitem
        |   WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_returnflag <> 'R'
        |     AND l_quantity >= 43 AND l_quantity <= 50) t8""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_discount").between(0.02, 0.08) && col("l_returnflag") =!= "R")
      def band(i: Int, lo: Int, hi: Int) =
        count(when(col("l_quantity") >= lo && col("l_quantity") <= hi, 1))
          .as(s"b$i")
      li.agg(band(1, 1, 6), band(2, 7, 12), band(3, 13, 18), band(4, 19, 24),
        band(5, 25, 30), band(6, 31, 36), band(7, 37, 42), band(8, 43, 50))
    },

    // ---- q72 shape (wave 8): the fact⋈fact date-offset chain —
    // catalog_sales⋈inventory with d1.d_date < d2.d_date + 5 and
    // on-hand < demanded becomes: returned shipments joined to later
    // shipments of the SAME part within a 7-day window that restocked
    // SHORT (smaller quantity), rolled up by brand. The join is keyed
    // (l_partkey) with the date band as residual — a shuffled equi-join
    // whose per-key fanout the band caps, never a cross product; at
    // 100× the pairs grow with per-part shipment density, exactly like
    // q72's per-item inventory records. ----
    QueryDef.sql(
      "q_ds_restock_short",
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_short,
        |  CAST(sum(CAST(l1.l_quantity - l2.l_quantity AS BIGINT)) AS BIGINT) AS qty_gap
        |FROM lineitem l1
        |JOIN lineitem l2 ON l1.l_partkey = l2.l_partkey
        |  AND l2.l_shipdate > l1.l_shipdate
        |  AND l2.l_shipdate <= l1.l_shipdate + INTERVAL 7 DAY
        |  AND l2.l_quantity < l1.l_quantity
        |JOIN part ON l1.l_partkey = p_partkey
        |WHERE l1.l_returnflag = 'R' AND l1.l_discount > 0.06
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val l1 = li.filter(col("l_returnflag") === "R" && col("l_discount") > 0.06)
        .select(col("l_partkey").as("k1"), col("l_shipdate").as("d1"),
          col("l_quantity").as("q1"))
      val l2 = li.select(col("l_partkey").as("k2"), col("l_shipdate").as("d2"),
        col("l_quantity").as("q2"))
      l1.join(l2, col("k1") === col("k2") &&
          col("d2") > col("d1") &&
          col("d2") <= col("d1") + expr("INTERVAL 7 DAY") &&
          col("q2") < col("q1"))
        .join(broadcast(Tables.load(s, dir, "part")), col("k1") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_short"),
          sum((col("q1") - col("q2")).cast("long")).as("qty_gap"))
        .orderBy(col("p_brand"))
    },

    // ---- wave 9: q50/q99 shape — fulfillment-latency day-bands: the
    // days between order date and line ship date bucketed into 30/60/90
    // day bands as CONDITIONAL aggregates over ONE orders⋈lineitem pass
    // (never one subquery per band), grouped by the order's priority.
    // The join shuffles on the fact keys; the band CASEs are
    // codegen'd projections, so at 100× this is exactly one
    // fact-fact co-shuffle and nothing else. ----
    QueryDef.sql(
      "q_ds_latency_bands",
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN lat <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(sum(CASE WHEN lat > 30 AND lat <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(sum(CASE WHEN lat > 60 AND lat <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(sum(CASE WHEN lat > 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90plus,
        |  CAST(max(lat) AS BIGINT) AS max_lat
        |FROM (
        |  SELECT o_orderpriority,
        |    date_diff('day', o_orderdate, l_shipdate) AS lat
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val lat = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).as("lat"))
      def band(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L)).cast("long")
      lat.groupBy(col("o_orderpriority"))
        .agg(
          band(col("lat") <= 30).as("d30"),
          band(col("lat") > 30 && col("lat") <= 60).as("d60"),
          band(col("lat") > 60 && col("lat") <= 90).as("d90"),
          band(col("lat") > 90).as("d90plus"),
          max(col("lat")).cast("long").as("max_lat"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- wave 9: q18/q22 shape — multi-level ROLLUP of an AVERAGE.
    // Unlike the sum rollups, AVG does NOT reassociate, so the §24
    // pre-aggregate rewrite is UNAVAILABLE and the Expand must run over
    // the fact join — this row deliberately exercises that stock plan
    // (sum/count pairs at each hierarchy level would be the manual
    // rewrite; the reference's q18/q22 use plain avg, so we match).
    // Averages compare as half-cent-rounded doubles (the money idiom).
    // ----
    QueryDef.sql(
      "q_ds_rollup_avg",
      """SELECT p_type, p_brand,
        |  (sign(avg(l_quantity)) * floor(abs(avg(l_quantity)) * 100.0 + 0.5) / 100.0) AS avg_qty,
        |  (sign(avg(l_extendedprice)) * floor(abs(avg(l_extendedprice)) * 100.0 + 0.5) / 100.0) AS avg_price,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(GROUPING(p_type) + GROUPING(p_brand) AS INTEGER) AS lochierarchy
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 25
        |GROUP BY ROLLUP(p_type, p_brand)
        |ORDER BY lochierarchy DESC, coalesce(p_type, ''), coalesce(p_brand, '')""".stripMargin) { (s, dir) =>
      def dr2(c: org.apache.spark.sql.Column) =
        signum(c) * floor(abs(c) * 100.0 + 0.5) / 100.0
      Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part").filter(col("p_size") <= 25)),
          col("l_partkey") === col("p_partkey"))
        .rollup(col("p_type"), col("p_brand"))
        .agg(
          dr2(avg(col("l_quantity"))).as("avg_qty"),
          dr2(avg(col("l_extendedprice"))).as("avg_price"),
          count(lit(1)).as("n"),
          (grouping(col("p_type")) + grouping(col("p_brand")))
            .cast("int").as("lochierarchy"))
        .orderBy(col("lochierarchy").desc,
          coalesce(col("p_type"), lit("")), coalesce(col("p_brand"), lit("")))
    },

    // ---- wave 10: q8 shape — semi-join on a DERIVED substring key.
    // q8 restricts store sales to customers whose zip PREFIX belongs to
    // a computed qualifying set (prefixes with enough preferred
    // customers); here the cohort key is the customer-name suffix and a
    // cohort qualifies when its high-balance population is above the
    // mean cohort's (scale-free, so the threshold discriminates at
    // every SF). The qualifying set is cohort-count-bounded (≤100 rows)
    // → broadcast semi-join against the fact, never a shuffle on the
    // derived key. ----
    QueryDef.sql(
      "q_ds_cohort_semi",
      """WITH coh AS (
        |  SELECT substring(c_name, -2, 2) AS coh, count(*) AS n
        |  FROM customer WHERE c_acctbal > 3000
        |  GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)) * 100) AS BIGINT) AS rev_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE substring(c_name, -2, 2) IN
        |  (SELECT coh FROM coh WHERE n > (SELECT avg(n) FROM coh))
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
      val coh = cust.filter(col("c_acctbal") > 3000)
        .groupBy(substring(col("c_name"), -2, 2).as("coh"))
        .agg(count(lit(1)).as("n"))
      val meanN = coh.agg(avg(col("n"))).head().getDouble(0)
      val qualifying = coh.filter(col("n") > meanN).select("coh")
      Tables.load(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .withColumn("coh", substring(col("c_name"), -2, 2))
        .join(broadcast(qualifying), Seq("coh"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)") * 100)
            .cast("long").as("rev_c"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- wave 11: q37/q82 shape — inventory-availability window. A
    // price-banded item dim joins an "inventory" fact restricted to a
    // 4-month date window and a quantity band, kept only when the item
    // also SOLD (semi-join to a second fact reference). Plan shape at
    // 100×: the dim filter broadcasts (a narrow retail-price slice of the dim survives), the date+quantity predicates push into the fact scan, the
    // sold-check is one keyed semi-join — no plan node scales with the
    // unfiltered fact. ----
    QueryDef.sql(
      "q_ds_inventory_window",
      """SELECT p_partkey, p_brand,
        |  CAST(p_retailprice AS DOUBLE) AS price,
        |  CAST(count(*) AS BIGINT) AS n_avail
        |FROM part JOIN lineitem ON l_partkey = p_partkey
        |WHERE p_retailprice BETWEEN 905 AND 950
        |  AND l_shipdate BETWEEN TIMESTAMP '1995-03-01 00:00:00'
        |                     AND TIMESTAMP '1995-06-30 00:00:00'
        |  AND l_quantity BETWEEN 10 AND 30
        |  AND EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')
        |GROUP BY p_partkey, p_brand, p_retailprice
        |ORDER BY p_partkey
        |LIMIT 100""".stripMargin) { (s, dir) =>
      val part = Tables.load(s, dir, "part")
        .filter(col("p_retailprice").between(905, 950))
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1995-03-01 00:00:00").cast("timestamp"),
          lit("1995-06-30 00:00:00").cast("timestamp")) &&
          col("l_quantity").between(10, 30))
        .select(col("l_partkey"), col("l_orderkey"))
      val fulfilled = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
      li.join(fulfilled, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .agg(count(lit(1)).as("n_avail"))
        .select(col("p_partkey"), col("p_brand"),
          col("p_retailprice").cast("double").as("price"), col("n_avail"))
        .orderBy(col("p_partkey"))
        .limit(100)
    },

    // ---- wave 11: q95 shape — double-EXISTS overlap. Fulfilled orders
    // that (a) drew lines from at least TWO distinct suppliers and (b)
    // had a returned line. Both existence sets derive from ONE lineitem
    // pass each — the multi-supplier set as a groupBy-HAVING (one
    // shuffle on the order key; q95's self-join formulation would
    // explode per-order line pairs), the returned set as a filtered
    // distinct — then two keyed semi-joins against orders. ----
    QueryDef.sql(
      "q_ds_supplier_overlap",
      """SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)) * 10000) AS BIGINT) AS total_e4
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey
        |                     HAVING count(DISTINCT l_suppkey) > 1)
        |  AND EXISTS (SELECT 1 FROM lineitem lr
        |              WHERE lr.l_orderkey = o_orderkey
        |                AND lr.l_returnflag = 'R')""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      // BOTH existence predicates from ONE lineitem pass: the per-order
      // aggregate carries the distinct-supplier count AND the
      // any-returned flag, so lineitem shuffles once (on l_orderkey)
      // instead of twice, and orders pays one semi join instead of two
      // (guide §2.3/§2.4 — aggregate before you shuffle, fewer passes)
      // two-level form (per (order, supplier) any-R flag, then per
      // order) rather than countDistinct+max in one aggregate: the
      // mixed distinct/non-distinct aggregate plans an Expand that
      // DOUBLES the fact rows before the partial agg — measured +8% at
      // sf1.0 despite winning at sf0.1; the two-level form keeps the
      // one-pass win at both scales
      // NOT NULL assumption (ADVICE r15): count(lit(1)) over the
      // (l_orderkey, l_suppkey) groups counts a NULL-suppkey group where
      // the spec's count(DISTINCT l_suppkey) would skip it — sound here
      // because TPC-H l_suppkey is NOT NULL; re-derive before reusing
      // this shape on nullable keys
      val qualifying = li
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("r1"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("ns"), max(col("r1")).as("has_r"))
        .filter(col("ns") > 1 && col("has_r") === 1)
        .select(col("l_orderkey"))
      Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .join(qualifying, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)") * 10000)
            .cast("long").as("total_e4"))
    },

    // ---- wave 12: q21 shape — before/after-anchor inventory split. Per
    // (supplier, part), quantity shipped before vs after a date anchor
    // as ONE conditional-agg pass (q21's d_date ± 30-day windows), kept
    // when both sides are populated and their ratio sits inside a band —
    // compared by INTEGER cross-multiplication (3·after ≥ 2·before AND
    // 2·after ≤ 3·before), so no division and no float flips a row. ----
    QueryDef.sql(
      "q_ds_anchor_split",
      """WITH g AS (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |      THEN l_quantity ELSE 0 END) AS BIGINT) AS q_before,
        |    CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      THEN l_quantity ELSE 0 END) AS BIGINT) AS q_after
        |  FROM lineitem
        |  GROUP BY 1, 2)
        |SELECT l_suppkey, l_partkey, q_before, q_after FROM g
        |WHERE q_before > 0 AND q_after > 0
        |  AND 3 * q_after >= 2 * q_before AND 2 * q_after <= 3 * q_before
        |ORDER BY l_suppkey, l_partkey
        |LIMIT 100""".stripMargin) { (s, dir) =>
      val anchor = lit("1996-01-01 00:00:00").cast("timestamp")
      def side(c: org.apache.spark.sql.Column) =
        sum(when(c, col("l_quantity")).otherwise(0.0)).cast("long")
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(side(col("l_shipdate") < anchor).as("q_before"),
          side(col("l_shipdate") >= anchor).as("q_after"))
        .filter(col("q_before") > 0 && col("q_after") > 0 &&
          col("q_after") * 3 >= col("q_before") * 2 &&
          col("q_after") * 2 <= col("q_before") * 3)
        .orderBy(col("l_suppkey"), col("l_partkey"))
        .limit(100)
    },

    // ---- wave 12: q78 shape — net-of-returns via a COMPOUND-KEY anti
    // join. q78 excludes returned sales by anti-joining web_sales to
    // web_returns on (order, item); here the returned lines are a
    // derived relation and the anti join runs fact×fact on
    // (l_orderkey, l_linenumber) — one co-shuffled anti join, grouped
    // into yearly net revenue. ----
    QueryDef.sql(
      "q_ds_net_of_returns",
      """WITH returned AS (
        |  SELECT l_orderkey AS r_ok, l_linenumber AS r_ln
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT year(l_shipdate) AS yr, count(*) AS n_kept,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000) AS BIGINT) AS net_e4
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM returned r
        |                  WHERE r.r_ok = l.l_orderkey AND r.r_ln = l.l_linenumber)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val returned = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("r_ok"), col("l_linenumber").as("r_ln"))
      li.join(returned,
          col("l_orderkey") === col("r_ok") && col("l_linenumber") === col("r_ln"),
          "left_anti")
        .groupBy(year(col("l_shipdate")).as("yr"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("l_partkey")).as("n_parts"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)") * 10000).cast("long").as("net_e4"))
        .orderBy(col("yr"))
    },

    // ---- wave 13: q75 shape — year-over-year net revenue by brand with
    // returns netted OUT INSIDE the aggregate (a conditional sum, never
    // a second scan), consecutive years aligned by a LAG window within
    // each brand (q75's cur⋈prev self-join is a window over the
    // |brands|·|years| pre-agg — metadata scale), decline detected by
    // INTEGER cross-multiplication (10·cur < 9·prev ⟺ >10% drop) so no
    // division or float flips a row. ----
    QueryDef.sql(
      "q_ds_yoy_net_decline",
      """WITH net AS (
        |  SELECT year(l_shipdate) AS yr, p_brand AS brand,
        |    CAST(coalesce(sum(CASE WHEN l_returnflag <> 'R'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000 END), 0) AS BIGINT) AS net_e4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT yr, brand, net_e4, prev_e4 FROM (
        |  SELECT yr, brand, net_e4,
        |    lag(net_e4) OVER (PARTITION BY brand ORDER BY yr) AS prev_e4
        |  FROM net) x
        |WHERE prev_e4 IS NOT NULL AND 10 * net_e4 < 9 * prev_e4
        |ORDER BY brand, yr""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val part = Tables.load(s, dir, "part")
      // net per (year, brand): one fact pass, dim broadcast; returned
      // lines contribute NULL → skipped by sum (coalesce restores 0 for
      // all-returned groups)
      val net = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(year(col("l_shipdate")).as("yr"), col("p_brand").as("brand"))
        .agg(coalesce(sum(when(col("l_returnflag") =!= "R",
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)") * 10000)), lit(0)).cast("long").as("net_e4"))
      val w = Window.partitionBy(col("brand")).orderBy(col("yr"))
      net.withColumn("prev_e4", lag(col("net_e4"), 1).over(w))
        .filter(col("prev_e4").isNotNull &&
          col("net_e4") * 10 < col("prev_e4") * 9)
        .select(col("yr"), col("brand"), col("net_e4"), col("prev_e4"))
        .orderBy(col("brand"), col("yr"))
    },

    // ---- wave 13: q25/q29 shape — the sale → return → re-sale chain.
    // Three derived fact legs (early sales, returns, later sales), each
    // PRE-AGGREGATED to its (customer, part) compound key BEFORE the
    // joins — q29's exact-ticket-key 1:1 chain reproduced by
    // aggregation, so join multiplicity can never inflate a quantity —
    // then two compound-key equi-joins (all three sides hash-partitioned
    // on the same key: no extra exchange) and a per-part rollup of the
    // three quantity legs. ----
    QueryDef.sql(
      "q_ds_sale_return_resale",
      """WITH li AS (
        |  SELECT l.*, o.o_custkey FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |s1 AS (SELECT o_custkey AS ck, l_partkey AS pk,
        |         CAST(sum(l_quantity) AS BIGINT) AS q_sold
        |       FROM li WHERE year(l_shipdate) <= 1997 AND l_returnflag <> 'R'
        |       GROUP BY 1, 2),
        |r AS  (SELECT o_custkey AS ck, l_partkey AS pk,
        |         CAST(sum(l_quantity) AS BIGINT) AS q_ret
        |       FROM li WHERE l_returnflag = 'R' GROUP BY 1, 2),
        |s2 AS (SELECT o_custkey AS ck, l_partkey AS pk,
        |         CAST(sum(l_quantity) AS BIGINT) AS q_resold
        |       FROM li WHERE year(l_shipdate) >= 1998 GROUP BY 1, 2)
        |SELECT pk, count(*) AS n_chains,
        |  CAST(sum(q_sold) AS BIGINT) AS sold,
        |  CAST(sum(q_ret) AS BIGINT) AS returned,
        |  CAST(sum(q_resold) AS BIGINT) AS resold
        |FROM s1 JOIN r USING (ck, pk) JOIN s2 USING (ck, pk)
        |GROUP BY pk
        |ORDER BY pk""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
      def leg(cond: org.apache.spark.sql.Column, as: String) =
        li.filter(cond)
          .groupBy(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity")).cast("long").as(as))
      val s1 = leg(year(col("l_shipdate")) <= 1997 &&
        col("l_returnflag") =!= "R", "q_sold")
      val r = leg(col("l_returnflag") === "R", "q_ret")
      val s2 = leg(year(col("l_shipdate")) >= 1998, "q_resold")
      s1.join(r, Seq("ck", "pk")).join(s2, Seq("ck", "pk"))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n_chains"),
          sum(col("q_sold")).cast("long").as("sold"),
          sum(col("q_ret")).cast("long").as("returned"),
          sum(col("q_resold")).cast("long").as("resold"))
        .orderBy(col("pk"))
    },

    // ---- wave 14: q34/q73 shape — "frequent tickets": orders whose
    // line count sits in a band, joined back to the customer. The
    // two-level plan (per-order count + HAVING, THEN the dim joins)
    // keeps the heavy aggregate on the fact's own key — bucket-local,
    // no pre-join blowup; the dim joins run on the few surviving
    // tickets. ----
    QueryDef.sql(
      "q_ds_frequent_tickets",
      """WITH t AS (
        |  SELECT l_orderkey, count(*) AS cnt
        |  FROM lineitem GROUP BY l_orderkey HAVING count(*) BETWEEN 6 AND 9)
        |SELECT c_custkey, o_orderkey, cnt
        |FROM t JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val tickets = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 6 && col("cnt") <= 9)
      tickets
        .join(Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "customer").select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("cnt"))
        .orderBy(col("c_custkey"), col("o_orderkey"))
    },

    // ---- wave 14: q77/q80 shape — channel profit-and-loss: per-channel
    // sales minus returns with a GRAND TOTAL line (rollup-over-union).
    // The oracle keeps q77's literal union-of-channel-legs; the Spark
    // plan collapses it — the legs partition ONE fact by l_shipmode, so
    // a CASE channel derivation reads the fact ONCE, pre-aggregates to
    // |channels| rows, and the ROLLUP's Expand runs over that pre-agg
    // (the §24 idiom): the grand total costs 3 rows, not a second scan.
    // Money in exact 10⁻⁴ units; profit is the sums' difference, never
    // a float. ----
    QueryDef.sql(
      "q_ds_channel_pnl",
      """WITH ch AS (
        |  SELECT 'web' AS channel, l_returnflag, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_linenumber = 1
        |  UNION ALL
        |  SELECT 'catalog', l_returnflag, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_linenumber IN (2, 3)
        |  UNION ALL
        |  SELECT 'store', l_returnflag, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_linenumber >= 4)
        |SELECT coalesce(channel, 'total') AS channel,
        |  CAST(coalesce(sum(CASE WHEN l_returnflag <> 'R'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000 END), 0) AS BIGINT) AS sales_e4,
        |  CAST(coalesce(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000 END), 0) AS BIGINT) AS returns_e4,
        |  CAST(coalesce(sum(CASE WHEN l_returnflag <> 'R'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000 END), 0)
        |   - coalesce(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000 END), 0) AS BIGINT) AS profit_e4
        |FROM ch
        |GROUP BY ROLLUP(channel)
        |ORDER BY channel""".stripMargin) { (s, dir) =>
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)") * 10000
      // ONE fact pass: channel derived, both legs as conditional sums
      val pre = Tables.load(s, dir, "lineitem")
        .select(
          when(col("l_linenumber") === 1, "web")
            .when(col("l_linenumber").isin(2, 3), "catalog")
            .otherwise("store").as("channel"),
          col("l_returnflag"), rev.as("rev"))
        .groupBy(col("channel"))
        .agg(
          coalesce(sum(when(col("l_returnflag") =!= "R", col("rev"))), lit(0))
            .cast("long").as("s_e4"),
          coalesce(sum(when(col("l_returnflag") === "R", col("rev"))), lit(0))
            .cast("long").as("r_e4"))
      // rollup over the |channels|-row pre-agg: the Expand triplication
      // is metadata-scale (sums reassociate)
      pre.rollup(col("channel"))
        .agg(sum(col("s_e4")).as("s"), sum(col("r_e4")).as("r"))
        .select(coalesce(col("channel"), lit("total")).as("channel"),
          col("s").cast("long").as("sales_e4"),
          col("r").cast("long").as("returns_e4"),
          (col("s") - col("r")).cast("long").as("profit_e4"))
        .orderBy(col("channel"))
    },

    // ---- wave 14: q4/q74 extension — three-year channel-preference
    // shift: customers active in ALL of 1995-1997 whose PRIORITY-channel
    // spend share grew STRICTLY both years. Share growth compares by
    // integer cross-multiplication (pri96·tot95 > pri95·tot96 ⟺ the
    // share grew, totals positive) in exact cent units — no division,
    // no float, no overflow (per-customer yearly cents ≲ 10⁹, products
    // ≲ 10¹⁸). ONE orders pass, ONE shuffle: the six (year × leg) sums
    // are conditional aggregates over the same customer grouping, not
    // six scans or a self-join tower (q4's CTE chain). ----
    QueryDef.sql(
      "q_ds_channel_shift",
      """WITH p AS (
        |  SELECT o_custkey AS ck,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1995
        |      THEN CAST(o_totalprice AS DECIMAL(18,4)) * 100 END) AS BIGINT) AS t95,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(o_totalprice AS DECIMAL(18,4)) * 100 END) AS BIGINT) AS t96,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1997
        |      THEN CAST(o_totalprice AS DECIMAL(18,4)) * 100 END) AS BIGINT) AS t97,
        |    CAST(coalesce(sum(CASE WHEN year(o_orderdate) = 1995
        |      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN CAST(o_totalprice AS DECIMAL(18,4)) * 100 END), 0) AS BIGINT) AS p95,
        |    CAST(coalesce(sum(CASE WHEN year(o_orderdate) = 1996
        |      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN CAST(o_totalprice AS DECIMAL(18,4)) * 100 END), 0) AS BIGINT) AS p96,
        |    CAST(coalesce(sum(CASE WHEN year(o_orderdate) = 1997
        |      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN CAST(o_totalprice AS DECIMAL(18,4)) * 100 END), 0) AS BIGINT) AS p97
        |  FROM orders
        |  WHERE year(o_orderdate) IN (1995, 1996, 1997)
        |  GROUP BY o_custkey)
        |SELECT ck, p95, t95, p96, t96, p97, t97
        |FROM p
        |WHERE t95 IS NOT NULL AND t96 IS NOT NULL AND t97 IS NOT NULL
        |  AND p96 * t95 > p95 * t96
        |  AND p97 * t96 > p96 * t97
        |ORDER BY ck""".stripMargin) { (s, dir) =>
      val cents = col("o_totalprice").cast("decimal(18,4)") * 100
      val pri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      def yearSum(y: Int, leg: org.apache.spark.sql.Column, as: String,
          zeroed: Boolean) = {
        val sm = sum(when(year(col("o_orderdate")) === y && leg, cents))
        (if (zeroed) coalesce(sm, lit(0)) else sm).cast("long").as(as)
      }
      Tables.load(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996, 1997))
        .groupBy(col("o_custkey").as("ck"))
        .agg(
          yearSum(1995, lit(true), "t95", zeroed = false),
          yearSum(1996, lit(true), "t96", zeroed = false),
          yearSum(1997, lit(true), "t97", zeroed = false),
          yearSum(1995, pri, "p95", zeroed = true),
          yearSum(1996, pri, "p96", zeroed = true),
          yearSum(1997, pri, "p97", zeroed = true))
        .filter(col("t95").isNotNull && col("t96").isNotNull &&
          col("t97").isNotNull &&
          col("p96") * col("t95") > col("p95") * col("t96") &&
          col("p97") * col("t96") > col("p96") * col("t97"))
        .select(col("ck"), col("p95"), col("t95"), col("p96"), col("t96"),
          col("p97"), col("t97"))
        .orderBy(col("ck"))
    },

    // ---- wave 15: q67 FAITHFUL mixed-level ranking — unlike
    // q_ds_rollup_rank / q_ds_category_topk (which partition BY
    // lochierarchy, ranking each level separately), q67 ranks ALL
    // rollup levels TOGETHER within the top partition: detail rows,
    // brand subtotals and the type subtotal compete in ONE
    // rank() ordering. The Expand still runs over a full-grouping-key
    // pre-agg (PERF_NOTES §24), and the window input is
    // |type·brand·size| rows — metadata scale at any fact size. ----
    QueryDef.sql(
      "q_ds_hierarchy_leaders",
      """WITH g AS (
        |  SELECT p_type, p_brand, p_size,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000) AS BIGINT) AS rev_e4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY ROLLUP(p_type, p_brand, p_size))
        |SELECT p_type, p_brand, p_size, rev_e4, rk FROM (
        |  SELECT p_type, p_brand, p_size, rev_e4,
        |    rank() OVER (PARTITION BY p_type
        |                 ORDER BY rev_e4 DESC, coalesce(p_brand, ''),
        |                          coalesce(p_size, -1)) AS rk
        |  FROM g WHERE p_type IS NOT NULL)
        |WHERE rk <= 5
        |ORDER BY p_type, rk""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val part = Tables.load(s, dir, "part")
      // fact reduced to the full grouping key FIRST; the rollup's
      // 4-way Expand runs over the pre-agg (sum reassociates)
      val pre = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("p_brand"), col("p_size"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)") * 10000).as("prev"))
      val g = pre.rollup(col("p_type"), col("p_brand"), col("p_size"))
        .agg(sum(col("prev")).cast("long").as("rev_e4"))
        .filter(col("p_type").isNotNull) // the grand total has no partition
      val w = Window.partitionBy(col("p_type"))
        .orderBy(col("rev_e4").desc, coalesce(col("p_brand"), lit("")),
          coalesce(col("p_size"), lit(-1)))
      g.withColumn("rk", rank().over(w))
        .filter(col("rk") <= 5)
        .select("p_type", "p_brand", "p_size", "rev_e4", "rk")
        .orderBy(col("p_type"), col("rk"))
    },

    // ---- wave 15: q14 shape at full strength — items sold through ALL
    // THREE channels (q14's triple INTERSECT of item sets), feeding a
    // FILTERED re-aggregate of cross-channel sales. The Spark plan
    // replaces the 3-scan + 2-shuffle INTERSECT chain with ONE
    // presence-vector pass (per-item max-of-channel-flags — one fact
    // scan, one |items|-key shuffle), then a semi join restricts the
    // re-aggregate; at 100 TB that is 2 fact scans total vs q14's 4+. ----
    QueryDef.sql(
      "q_ds_triple_channel",
      """WITH web AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_linenumber = 1),
        |cat AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_linenumber IN (2, 3)),
        |sto AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_linenumber >= 4),
        |cross_items AS (
        |  SELECT l_partkey FROM web
        |  INTERSECT
        |  SELECT l_partkey FROM cat
        |  INTERSECT
        |  SELECT l_partkey FROM sto)
        |SELECT CASE WHEN l_linenumber = 1 THEN 'web'
        |            WHEN l_linenumber IN (2, 3) THEN 'catalog'
        |            ELSE 'store' END AS channel,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * 100) AS BIGINT) AS amt_c
        |FROM lineitem
        |WHERE l_quantity > 10
        |  AND l_partkey IN (SELECT l_partkey FROM cross_items)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val channel = when(col("l_linenumber") === 1, "web")
        .when(col("l_linenumber").isin(2, 3), "catalog")
        .otherwise("store")
      // ONE pass computes each item's channel-presence vector; items in
      // all three channels survive — equivalent to the triple INTERSECT
      // of DISTINCT key sets, without materializing any of them
      val crossItems = li
        .select(col("l_partkey"), channel.as("ch"))
        .groupBy(col("l_partkey"))
        .agg(
          max(when(col("ch") === "web", 1).otherwise(0)).as("w"),
          max(when(col("ch") === "catalog", 1).otherwise(0)).as("c"),
          max(when(col("ch") === "store", 1).otherwise(0)).as("st"))
        .filter(col("w") === 1 && col("c") === 1 && col("st") === 1)
        .select(col("l_partkey").as("xk"))
      li.filter(col("l_quantity") > 10)
        .join(crossItems, col("l_partkey") === col("xk"), "left_semi")
        .groupBy(channel.as("channel"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,4)") * 100)
            .cast("long").as("amt_c"))
        .orderBy(col("channel"))
    }
  )
}
