package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One finished op of the closed loop. `info` carries op-specific
  * numbers (rows ingested, refresh path counts, visible lag, ...).
  */
final case class OpRec(id: Long, client: Int, kind: String, start: Double,
    end: Double, ok: Boolean, error: String, rows: Long, write: Boolean,
    info: Map[String, Double])

/** Collects everything a run measures and writes it as one JSON file
  * for `run.py` to reduce. Untraced runs keep only op records; traced
  * runs add spans around every call into an engine layer plus the
  * Spark listener events (jobs, stages, SQL executions with their
  * planning phases, streaming progress) that the reducer attributes to
  * ops.
  *
  * Ops are tagged for attribution by a job description `pb:<op>`:
  * in-process ops set it as the thread's job group, JDBC ops carry it
  * as a trailing SQL comment (the Thrift server uses the statement text
  * as the job description).
  */
final class Recorder(spark: SparkSession, val trace: Boolean) {
  private val nanoBase = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable to the listener bus's epoch-millisecond timestamps.
    */
  def now(): Double = nanoBase + System.nanoTime() / 1e6

  private val ops = new ConcurrentLinkedQueue[OpRec]
  private val spans = new ConcurrentLinkedQueue[(Long, String, String, Double, Double)]
  private val currentOp = new ThreadLocal[java.lang.Long]
  /** The op the streaming micro-batch thread attributes its work to. */
  val streamingOp = new AtomicLong(-1L)

  def tag(op: Long): String = s"pb:$op"

  /** Run one op: time it, tag its Spark work, and record the outcome.
    * `body` returns (rows, info); an exception or a failed check is a
    * failed op, named with its message.
    */
  def op(id: Long, client: Int, kind: String, write: Boolean)(
      body: => (Long, Map[String, Double])): OpRec = {
    currentOp.set(id)
    if (trace) spark.sparkContext.setJobGroup(s"pb-$id", tag(id), interruptOnCancel = false)
    val t0 = now()
    val rec = try {
      val (rows, info) = body
      OpRec(id, client, kind, t0, now(), ok = true, "", rows, write, info)
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")
        OpRec(id, client, kind, t0, now(), ok = false,
          s"${e.getClass.getSimpleName}: $msg".take(400), 0L, write, Map.empty)
    } finally {
      if (trace) spark.sparkContext.clearJobGroup()
      currentOp.remove()
    }
    ops.add(rec)
    rec
  }

  /** The calling thread's op, or the streaming op on other threads. */
  def currentOpId: Long = Option(currentOp.get).map(_.longValue).getOrElse(streamingOp.get)

  /** A span around a call into one engine layer, attributed to the
    * calling thread's current op (a no-op when untraced).
    */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!trace) f
    else {
      val s = now()
      try f finally record(layer, name, s, now())
    }

  /** A span whose name is known only after the call (a refresh path). */
  def record(layer: String, name: String, start: Double, end: Double): Unit =
    if (trace) spans.add((currentOpId, layer, name, start, end))

  /** Attribute the calling thread's Spark work to `op` (the streaming
    * micro-batch thread, which the op runner does not own).
    */
  def adopt(op: Long): Unit = {
    currentOp.set(op)
    if (trace) spark.sparkContext.setJobGroup(s"pb-$op", tag(op), interruptOnCancel = false)
  }

  // ---- listener side (traced runs only) ----
  private final case class JobRec(id: Int, start: Long, desc: String,
      execId: String, stages: Seq[Int], var end: Long = -1L)
  private final class StageAcc(val id: Int, val attempt: Int) {
    var submit = -1L; var complete = -1L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var shufRead = 0L; var shufWrite = 0L
    var spill = 0L; var recordsRead = 0L; var maxTaskMs = 0L; var schedDelayMs = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAcc]
  private val execs = mutable.LinkedHashMap.empty[Long, Array[Any]] // desc, root, start, end
  private val qes = mutable.ArrayBuffer.empty[(Long, Map[String, (Long, Long)])]

  private def phases(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private val batchOp = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]
  private val events = new AtomicLong(0L)

  def markBatch(batchId: Long, op: Long): Unit = batchOp.put(batchId, op)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = events.synchronized {
      events.incrementAndGet()
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, e.time, prop("spark.job.description"),
        prop("spark.sql.execution.id"), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.synchronized {
      events.incrementAndGet()
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    private def acc(id: Int, attempt: Int) =
      stages.getOrElseUpdate((id, attempt), new StageAcc(id, attempt))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.synchronized {
      events.incrementAndGet()
      val a = acc(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      val m = e.taskMetrics
      if (info != null) {
        a.maxTaskMs = math.max(a.maxTaskMs, info.duration)
        if (m != null) a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.synchronized {
      events.incrementAndGet()
      val si = e.stageInfo
      val a = acc(si.stageId, si.attemptNumber())
      a.submit = si.submissionTime.getOrElse(-1L)
      a.complete = si.completionTime.getOrElse(-1L)
      a.tasks = si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        a.runMs = m.executorRunTime
        a.cpuNs = m.executorCpuTime
        a.shufRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.shufWrite = m.shuffleWriteMetrics.bytesWritten
        a.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsRead = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => events.synchronized {
        events.incrementAndGet()
        execs(s.executionId) = Array(s.description,
          s.rootExecutionId.getOrElse(s.executionId), s.time, -1L)
      }
      case s: SparkListenerSQLExecutionEnd => events.synchronized {
        events.incrementAndGet()
        execs.get(s.executionId).foreach(_(3) = s.time)
        // the event carries its QueryExecution (a Spark-internal field):
        // the one exact link from an execution id to its planning phases
        scala.util.Try(s.getClass.getMethod("qe").invoke(s)).toOption.foreach {
          case qe: QueryExecution => qes += ((s.executionId, phases(qe)))
          case _ =>
        }
      }
      case _ =>
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.synchronized {
        events.incrementAndGet()
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress += ((e.progress.batchId, d))
      }
  }

  if (trace) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the asynchronous listener buses have gone quiet, so the
    * events of the last ops are in before the file is written.
    */
  def drain(): Unit = if (trace) {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }

  def opRecords: Seq[OpRec] = ops.asScala.toSeq

  def write(mapper: ObjectMapper, root: ObjectNode): Unit = {
    val opsN = root.putArray("ops")
    ops.asScala.foreach { o =>
      val n = opsN.addObject()
      n.put("id", o.id); n.put("client", o.client); n.put("kind", o.kind)
      n.put("start", o.start); n.put("end", o.end); n.put("ok", o.ok)
      n.put("error", o.error); n.put("rows", o.rows); n.put("write", o.write)
      val i = n.putObject("info")
      o.info.foreach { case (k, v) => i.put(k, v) }
    }
    if (trace) events.synchronized {
      val sp = root.putArray("spans")
      spans.asScala.foreach { case (op, layer, name, s, e) =>
        val n = sp.addObject()
        n.put("op", op); n.put("layer", layer); n.put("name", name)
        n.put("start", s); n.put("end", e)
      }
      val js = root.putArray("jobs")
      jobs.values.foreach { j =>
        val n = js.addObject()
        n.put("id", j.id); n.put("start", j.start); n.put("end", j.end)
        n.put("desc", j.desc.take(200)); n.put("exec", j.execId)
        val a = n.putArray("stages"); j.stages.foreach(a.add(_))
      }
      val ss = root.putArray("stages")
      stages.values.foreach { s =>
        val n = ss.addObject()
        n.put("id", s.id); n.put("attempt", s.attempt); n.put("submit", s.submit)
        n.put("complete", s.complete); n.put("tasks", s.tasks); n.put("run_ms", s.runMs)
        n.put("cpu_ms", s.cpuNs / 1e6); n.put("shuffle_read", s.shufRead)
        n.put("shuffle_write", s.shufWrite); n.put("spill", s.spill)
        n.put("records_read", s.recordsRead); n.put("max_task_ms", s.maxTaskMs)
        n.put("sched_delay_ms", s.schedDelayMs)
      }
      val es = root.putArray("executions")
      execs.foreach { case (id, a) =>
        val n = es.addObject()
        n.put("id", id); n.put("desc", a(0).asInstanceOf[String].take(200))
        n.put("root", a(1).asInstanceOf[Long]); n.put("start", a(2).asInstanceOf[Long])
        n.put("end", a(3).asInstanceOf[Long])
      }
      val qs = root.putArray("phases")
      qes.foreach { case (id, ph) =>
        val n = qs.addObject()
        n.put("exec", id)
        val p = n.putObject("phases")
        ph.foreach { case (k, (s, e)) => val a = p.putArray(k); a.add(s); a.add(e) }
      }
      val pr = root.putArray("progress")
      progress.foreach { case (b, d) =>
        val n = pr.addObject()
        n.put("batch", b); n.put("op", Option(batchOp.get(b)).map(_.longValue).getOrElse(-1L))
        val m = n.putObject("durations")
        d.foreach { case (k, v) => m.put(k, v) }
      }
    }
  }
}
