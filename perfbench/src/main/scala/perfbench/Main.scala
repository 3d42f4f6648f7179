package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** A workload drives one closed loop against tables it loads itself.
  * `load` must be repeatable: set-up time counts the median of several
  * loads in one run, plus one warm-up after the last.
  */
trait Workload {
  /** (Re)create every table, view and connection the loop needs. */
  def load(round: Int): Unit
  /** Run the warm-up ops (unrecorded) against the last load. */
  def warmup(): Unit
  /** Run the measured ops until their summed time reaches `seconds`
    * (per client); returns the measured wall time in seconds.
    */
  def run(seconds: Double): Double
  /** End-of-run correctness checks, recorded as `check:` ops. */
  def verify(): Unit = ()
  def counters: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** JVM side of the benchmark: loads a workload's tables, runs the op
  * stream `run.py` generated, and writes the raw records as JSON.
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload analytics --ops ops.json
  *   --out result.json --seconds 10 --trace 0 --work <dir> --cores 4
  * }}}
  */
object Main {
  val LoadRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work")).getAbsoluteFile
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    val mapper = new ObjectMapper()
    val input = mapper.readTree(new File(opt("ops")))

    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val g = graft.GraftSession(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark, trace)

    val w: Workload = opt("workload") match {
      case "analytics" => new Analytics(spark, g, rec, input)
      case "serving" => new Serving(spark, g, rec, input)
      case "ingest" => new Ingest(spark, g, rec, input, work)
      case "pipeline" => new Pipeline(spark, g, rec, input)
      case other => sys.error(s"unknown workload $other")
    }
    val loads = (0 until LoadRounds).map { r =>
      val s = System.nanoTime()
      w.load(r)
      (System.nanoTime() - s) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    System.gc()
    val gcBefore = gcTotals()
    val wall = w.run(opt("seconds").toDouble)
    val gcAfter = gcTotals()
    w.verify()
    rec.drain()

    val root = mapper.createObjectNode()
    root.put("workload", opt("workload"))
    root.put("session_s", sessionS)
    val l = root.putArray("load_s"); loads.foreach(l.add(_))
    root.put("warmup_s", warmupS)
    root.put("wall_s", wall)
    root.put("gc_ms", (gcAfter._1 - gcBefore._1).toDouble)
    root.put("gc_count", (gcAfter._2 - gcBefore._2).toDouble)
    val c = root.putObject("counters")
    w.counters.foreach { case (k, v) => c.put(k, v) }
    storeStats(g, root.putObject("store"))
    // the ContextCleaner frees checkpoint blocks only after a GC finds
    // their frames unreachable: collect, let it drain, collect again
    System.gc(); Thread.sleep(500); System.gc()
    root.put("heap_after_gc_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    rec.write(mapper, root)
    mapper.writeValue(new File(opt("out")), root)

    w.close()
    System.exit(0) // Spark's shutdown hook stops the context
  }

  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "org.apache.spark.sql.graft.store.GraftCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  private def storeStats(g: graft.GraftSession, out: ObjectNode): Unit =
    g.tableStats.collect().foreach { r =>
      if (r.getAs[Long]("row_count") >= 0) {
        val n = out.putObject(r.getAs[String]("table_name"))
        n.put("provider", r.getAs[String]("provider"))
        n.put("rows", r.getAs[Long]("row_count"))
        n.put("batches", r.getAs[Long]("batch_count"))
        n.put("bytes", r.getAs[Long]("size_bytes"))
        n.put("resident_bytes", r.getAs[Long]("resident_bytes"))
      }
    }

  // ---- small helpers shared by the workloads ----
  def items(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
  def strings(n: JsonNode): Seq[String] = items(n).map(_.asText)
}
