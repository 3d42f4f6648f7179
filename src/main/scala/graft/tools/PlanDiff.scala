package graft.tools

import graft.GraftConf

/** Plan A/B for a session conf: renders every SparkEntry query's physical
  * plan under two values of one conf key (default: the DictJoinStrategy
  * mode) in the SAME session, normalizes volatile ids, and reports any
  * query whose plan changed. "Zero diffs" is the evidence that flipping
  * the conf's default cannot regress the existing suite — stronger and
  * cheaper than a full-suite wall-clock A/B, which on this host measures
  * noise whenever the plans are identical (PERF_NOTES §1/§8/§12).
  *
  * Usage: runMain graft.tools.PlanDiff <sfDir> [confKey offValue onValue]
  */
object PlanDiff {

  private def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+[L]?", "#x")
      // HOF lambda vars (x_1, y_2, ...) number from a session counter
      .replaceAll("\\b([a-z]{1,3})_\\d+\\b", "$1_n")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("@[0-9a-fA-F]{4,}", "@x")
      .replaceAll("(?i)(lease|snapshot|batch|id)=\\d+", "$1=x")
      .replaceAll("/tmp/[^\\s,)\\]]+", "/tmp/x")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (key, offV, onV) =
      if (args.length >= 4) (args(1), args(2), args(3))
      else (org.apache.spark.sql.graft.store.DictJoinStrategy.CONF_KEY, "false", "auto")
    val spark = GraftConf.session("graft-plan-diff", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    var diffs = 0; var same = 0; var failed = 0
    graft.SparkEntry.allDefs
      .filter(d => only.forall(_.contains(d.name)))
      .foreach { d =>
        try {
          // OFF first, ON second, same session — the two constructions see
          // identical store state except for side effects the query itself
          // makes, which both arms repeat identically
          spark.conf.set(key, offV)
          val off = normalize(d.fn(spark, sfDir).queryExecution.executedPlan.toString)
          spark.conf.set(key, onV)
          val on = normalize(d.fn(spark, sfDir).queryExecution.executedPlan.toString)
          if (off != on) {
            diffs += 1
            println(s"[plandiff] DIFF ${d.name}")
            println(s"[plandiff] ---- $offV ----\n$off")
            println(s"[plandiff] ---- $onV ----\n$on")
          } else same += 1
        } catch {
          case e: Throwable =>
            failed += 1
            println(s"[plandiff] FAIL ${d.name}: ${e.getMessage}")
        } finally spark.conf.unset(key)
      }
    println(s"[plandiff] == same=$same diffs=$diffs failed=$failed " +
      s"($key: $offV vs $onV)")
    spark.stop()
  }
}
