package graft.tools

import graft.GraftConf
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Per-stage decomposition of one SparkEntry query (the UI-substitute for
  * adjudicating WHERE a candidate's time moved): warmup once, run once,
  * print each stage's duration, task count and shuffle read/write bytes.
  * Usage: runMain graft.tools.StageProbe <query> [sfDir] [reps]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val qName = args.headOption.getOrElse(sys.error("query name required"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftConf.session("graft-stage-probe", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val d = graft.SparkEntry.allDefs.find(_.name == qName)
      .getOrElse(sys.error(s"unknown query $qName"))

    case class St(id: Int, name: String, ms: Long, tasks: Int,
      srBytes: Long, swBytes: Long, records: Long, runMs: Long, maxMs: Long)
    val stages = ArrayBuffer.empty[St]
    val taskMax = scala.collection.mutable.Map.empty[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) taskMax.synchronized {
          val id = te.stageId
          taskMax(id) = math.max(taskMax.getOrElse(id, 0L),
            te.taskMetrics.executorRunTime)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(90),
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          i.numTasks, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          m.executorRunTime, taskMax.synchronized(taskMax.getOrElse(i.stageId, 0L)))
      }
    })

    def once(): Double = {
      val t0 = System.nanoTime()
      d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup
    (1 to reps).foreach { r =>
      stages.clear()
      val t = once()
      Thread.sleep(300) // listener drain
      println(f"[stageprobe] $qName rep $r total ${t}%.3f s, ${stages.size} stages")
      stages.sortBy(-_.ms).foreach { s =>
        println(f"[stage] ${s.ms}%6d ms tasks=${s.tasks}%3d run=${s.runMs}%6d maxTask=${s.maxMs}%5d " +
          f"sr=${s.srBytes / 1024}%7d KB sw=${s.swBytes / 1024}%7d KB :: ${s.name}")
      }
    }
    spark.stop()
  }
}
