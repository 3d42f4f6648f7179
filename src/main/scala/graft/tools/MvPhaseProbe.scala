package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftConf, GraftSession, Tables}

/** Phase-level timing of a representative matview lifecycle (the
  * q_matview_incremental shape): createTable → create MV → insert →
  * refresh → serve. Identifies which ENGINE call carries the cost of the
  * bench's matview family (optimization-round evidence; the bench times
  * whole lifecycles, so this is the decomposition the UI would give us).
  * Usage: runMain graft.tools.MvPhaseProbe [sfDir] [reps]
  */
object MvPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftConf.session("graft-mv-phase-probe", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val g = GraftSession(spark)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        if (sys.env.contains("MVPHASE_TRACE"))
          println(s"[mvjob] stages=${j.stageInfos.size} :: " +
            j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(160))
      }
    })

    def t[A](label: String)(f: => A): A = {
      val j0 = jobs.get; val s0 = stages.get
      val t0 = System.nanoTime(); val r = f
      println(f"[mvphase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s  " +
        s"jobs=${jobs.get - j0} stages=${stages.get - s0}")
      r
    }

    (1 to reps).foreach { rep =>
      println(s"[mvphase] --- rep $rep ---")
      if (org.apache.spark.sql.graft.store.MatViews.isMatView("p_mv_sum"))
        g.dropMaterializedView("p_mv_sum")
      if (g.isManaged("p_mv_base")) g.dropTable("p_mv_base")
      val orders = Tables.load(spark, sfDir, "orders")
      val old = orders.filter(col("o_orderkey") % 10 =!= 0)
      val delta = orders.filter(col("o_orderkey") % 10 === 0)
      val oldAmt = old.withColumn("amt",
        col("o_totalprice").cast("decimal(18,4)"))
      val deltaAmt = delta.withColumn("amt",
        col("o_totalprice").cast("decimal(18,4)"))
      t("createTable(base 90%)") {
        g.createTable("p_mv_base", oldAmt)
      }
      t("create MV (group by prio)") {
        g.sql("CREATE MATERIALIZED VIEW p_mv_sum AS " +
          "SELECT o_orderpriority, sum(amt) AS s, " +
          "count(*) AS n FROM p_mv_base GROUP BY o_orderpriority")
      }
      t("insert delta (10%)") {
        g.insert("p_mv_base", deltaAmt)
      }
      t("refresh (incremental)") {
        val p = g.refreshMaterializedView("p_mv_sum")
        require(p == "incremental", s"got $p")
      }
      t("serve (rewritten query)") {
        spark.sql("SELECT o_orderpriority, sum(amt) AS s " +
          "FROM p_mv_base GROUP BY o_orderpriority")
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
