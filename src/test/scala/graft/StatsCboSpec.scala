package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

/** The store-metadata ANALYZE (r7 verdict ask #9): GraftScan reports
  * pushed-filter-aware size/row statistics plus per-column stats built
  * from the batch stats rows and HLL digests the store already keeps —
  * so Spark's planner sees a selectively-filtered scan as small (and
  * broadcasts it), and CBO sees distinct/null counts without any ANALYZE
  * command ever running.
  */
class StatsCboSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  test("pushed-filter-aware stats: a pruned scan broadcasts instead of shuffle-joining") {
    val g = GraftSession(spark)
    import spark.implicits._
    // contiguous ids per write task → tight per-batch (min,max) on k →
    // an equality/range filter prunes to a handful of batches
    val fat = spark.range(0, 300000, 1, 4)
      .select(col("id").as("k"),
        concat(lit("payload_payload_payload_payload_"), col("id")).as("pay"))
    g.createTable("cbo_fact", fat)
    val other = spark.range(0, 400000, 1, 4)
      .select(col("id").as("ok"), concat(lit("other_other_other_"), col("id")).as("op"))
    g.createTable("cbo_other", other)
    try {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> (1024 * 1024).toString) {
        val probeAll = org.apache.spark.sql.graft.store.GraftStoreOps.read(spark, "cbo_fact")
        val dimAll = org.apache.spark.sql.graft.store.GraftStoreOps.read(spark, "cbo_other")
        // unfiltered: both sides are megabytes > 1 MiB → no broadcast
        val wide = probeAll.join(dimAll, probeAll("k") === dimAll("ok"))
        val widePlan = wide.queryExecution.executedPlan.toString
        assert(!widePlan.contains("BroadcastHashJoin"),
          s"unfiltered sides must exceed the 1 MiB threshold:\n$widePlan")
        // filtered to one batch-range: the scan's OWN estimate shrinks to
        // the surviving batches → planner broadcasts the filtered side
        val probe = org.apache.spark.sql.graft.store.GraftStoreOps.read(spark, "cbo_fact")
          .filter(col("k") < 5000)
        val dim = org.apache.spark.sql.graft.store.GraftStoreOps.read(spark, "cbo_other")
        val narrow = probe.join(dim, probe("k") === dim("ok"))
        val narrowPlan = narrow.queryExecution.executedPlan.toString
        assert(narrowPlan.contains("BroadcastHashJoin"),
          s"pruned-scan stats must put the filtered side under the threshold:\n$narrowPlan")
        // and the answers are right
        assert(narrow.count() == 5000)
      }
    } finally { g.dropTable("cbo_fact"); g.dropTable("cbo_other") }
  }

  test("row-store PK probe reports probe-sized stats: the point lookup broadcasts") {
    val g = GraftSession(spark)
    import spark.implicits._
    g.createTable("cbo_row",
      (1L to 150000L).map(i => (i, s"payload_payload_payload_$i")).toDF("k", "p"),
      keyColumns = Seq("k"), provider = "row")
    val other = spark.range(0, 400000, 1, 4)
      .select(col("id").as("ok"), concat(lit("other_other_"), col("id")).as("op"))
    g.createTable("cbo_row_other", other)
    try {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> (1024 * 1024).toString) {
        val all = org.apache.spark.sql.graft.store.GraftRowOps.read(spark, "cbo_row")
        val dim = org.apache.spark.sql.graft.store.GraftStoreOps.read(spark, "cbo_row_other")
        val wide = all.join(dim, all("k") === dim("ok"))
        assert(!wide.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          s"unfiltered row table must exceed the threshold:\n${wide.queryExecution.executedPlan}")
        val probe = org.apache.spark.sql.graft.store.GraftRowOps.read(spark, "cbo_row")
          .filter(col("k").isin(5L, 6L, 7L))
        val narrow = probe.join(dim, probe("k") === dim("ok"))
        assert(narrow.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          s"PK-probe stats must broadcast the lookup side:\n${narrow.queryExecution.executedPlan}")
        assert(narrow.count() == 3)
      }
    } finally { g.dropTable("cbo_row"); g.dropTable("cbo_row_other") }
  }

  test("CBO join reorder: store HLL/PK stats move the selective dim join first") {
    val g = GraftSession(spark)
    // fact: a is near-unique (HLL digest), b is low-cardinality
    val fact = spark.range(0, 150000, 1, 4)
      .select(col("id").as("a"), (col("id") % 50).as("b"),
        concat(lit("fact_payload_payload_"), col("id")).as("fp"))
    fact.write.format("org.apache.spark.sql.graft.store.GraftColumnSource")
      .option("table", "cbo_fact3").option("sketch_columns", "a,b")
      .mode("overwrite").save()
    // dima: as many rows as the fact, PK on a → joining it reduces nothing
    spark.range(0, 150000, 1, 4)
      .select(col("id").as("a"), concat(lit("dima_payload_"), col("id")).as("da"))
      .write.format("org.apache.spark.sql.graft.store.GraftColumnSource")
      .option("table", "cbo_dima").option("key_columns", "a")
      .mode("overwrite").save()
    // dimb: 50 rows; the filter keeps 5 → joining it FIRST shrinks the
    // fact 10× before the expensive dima join
    spark.range(0, 50)
      .select(col("id").as("b"), col("id").as("sel"),
        concat(lit("dimb_"), col("id")).as("db"))
      .write.format("org.apache.spark.sql.graft.store.GraftColumnSource")
      .option("table", "cbo_dimb").option("sketch_columns", "b,sel")
      .mode("overwrite").save()
    try {
      withConf("spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") {
        import org.apache.spark.sql.graft.store.GraftStoreOps
        val f = GraftStoreOps.read(spark, "cbo_fact3")
        val dA = GraftStoreOps.read(spark, "cbo_dima")
        val dB = GraftStoreOps.read(spark, "cbo_dimb").filter(col("sel") < 5)
        // WRITTEN order joins the useless big dim first
        val q = f.join(dA, "a").join(dB, "b")
          .groupBy(col("db")).agg(count(lit(1)).as("n"), sum(col("a")).as("sa"))
        import org.apache.spark.sql.catalyst.plans.logical.Join
        val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
        assert(joins.size == 2, s"expected a 2-join tree, got ${joins.size}")
        val deepest = joins.find(j =>
          j.children.forall(_.collectFirst { case jj: Join => jj }.isEmpty))
          .getOrElse(fail("no leaf-level join"))
        val names = deepest.output.map(_.name).toSet
        assert(names.contains("db") && !names.contains("da"),
          s"CBO must reorder the selective dimb join first, innermost join " +
            s"outputs: $names\n${q.queryExecution.optimizedPlan}")
        assert(q.count() == 5)
      }
    } finally {
      g.dropTable("cbo_fact3"); g.dropTable("cbo_dima"); g.dropTable("cbo_dimb")
    }
  }

  test("column stats surface to the optimizer: sketch distinct, PK uniqueness, null counts") {
    val g = GraftSession(spark)
    import spark.implicits._
    (1 to 20000).map { i =>
      (i.toLong, s"cat_${i % 37}", if (i % 10 == 0) null else s"v$i")
    }.toDF("id", "cat", "v")
      .write.format("org.apache.spark.sql.graft.store.GraftColumnSource")
      .option("table", "cbo_stats").option("key_columns", "id")
      .option("sketch_columns", "cat").mode("overwrite").save()
    try {
      withConf("spark.sql.cbo.enabled" -> "true") {
        val scan = org.apache.spark.sql.graft.store.GraftStoreOps.read(spark, "cbo_stats")
        val rel = scan.queryExecution.optimizedPlan.collectFirst {
          case r: DataSourceV2ScanRelation => r
        }.getOrElse(fail("no DSv2 relation in the plan"))
        val stats = rel.computeStats()
        assert(stats.rowCount.contains(BigInt(20000)), stats.rowCount)
        val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
        val catD = byName("cat").distinctCount
          .getOrElse(fail("no distinct count for the sketched column"))
        assert(catD.toLong >= 35 && catD.toLong <= 39, s"HLL estimate off: $catD")
        val idD = byName("id").distinctCount
          .getOrElse(fail("no distinct count for the PK column"))
        assert(idD.toLong == 20000, s"PK distinct must equal rowCount: $idD")
        assert(byName("v").nullCount.exists(_.toLong == 2000), byName("v").nullCount)
      }
    } finally g.dropTable("cbo_stats")
  }
}
