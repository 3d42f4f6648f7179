package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: formatted physical plans of SparkEntry queries, planned in
  * Bench's session (`GraftConf.session` on `$SPARK_GRAFT_CPUS` cores), so
  * plan regressions (lost pushdown, surprise SortMergeJoin, broken
  * codegen) show as the bench would run them. Data: `$SPARK_GRAFT_SF_DIR`.
  *
  * Usage: `runMain graft.Explain [--out <dir> <suffix>] [query ...]`
  *  - without `--out`, prints the plans of the named queries (default: a
  *    representative set);
  *  - with `--out`, writes `<dir>/<query>_<suffix>.txt` per query
  *    (default: every query), the optimization-round evidence that
  *    `tools/plan_survey.py` ranks (`plans/r15/<q>_before.txt`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (out, names) = args.toList match {
      case "--out" :: dir :: suffix :: rest => (Some((dir, suffix)), rest)
      case rest => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftConf.session("graft-explain", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted: String => Boolean =
      if (names.nonEmpty) names.toSet
      else if (out.isDefined) _ => true
      else Set(
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "q_ann_bruteforce", "q_dedup_minhash_lsh", "q_events_hourly",
        "q_column_store", "q_point_lookup", "q_dedup_embedding",
        "q_matview_rewrite", "q_matview_join")
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    SparkEntry.allDefs.filter(d => wanted(d.name)).foreach { d =>
      try {
        val plan = d.fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        out match {
          case Some((dir, suffix)) =>
            Files.write(Paths.get(dir, s"${d.name}_$suffix.txt"),
              plan.getBytes(StandardCharsets.UTF_8))
            println(s"[explain] wrote ${d.name}_$suffix.txt")
          case None =>
            println(s"\n========== ${d.name} ==========")
            println(plan)
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] ${d.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
