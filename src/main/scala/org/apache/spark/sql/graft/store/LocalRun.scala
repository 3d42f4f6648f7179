package org.apache.spark.sql.graft.store

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, InterpretedOrdering, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, Filter, LocalRelation, LogicalPlan, Project, RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.write.{BatchWrite, PhysicalWriteInfoImpl, Write, WriterCommitMessage}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.{CollectLimitExec, ColumnarToRowExec, FilterExec, InputAdapter, LocalTableScanExec, ProjectExec, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation, StreamWriterCommitProgress, V2CommandExec, V2ExistingTableWriteExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.util.Utils

/** Runs one partition's work on the calling thread the way an executor
  * runs a task — the reference's routed region get and prepared-statement
  * writes, which answer without a Spark job. The key lookup
  * ([[LocalLookupExec]]), the DSv2 append ([[LocalAppendExec]]) and the
  * row store's put and delete (`GraftRowOps`) share this runner; each
  * passes the same per-partition body its job path ships to a task.
  */
object LocalRun {

  /** Largest in-memory source a write takes on the calling thread; a
    * bigger one keeps the job path, where its partitions run in parallel.
    */
  val MaxRows = 1024

  // attempt ids of driver-side runs count down from -1, disjoint from the
  // scheduler's task ids (the memory manager books execution memory by id)
  private val nextAttemptId = new AtomicLong(0)

  /** Runs `body` as partition `partitionId` of `numPartitions` inside a
    * driver-side task context: its own `TaskMemoryManager`, a clone of
    * the thread's local properties (so `SQLConf.get` in generated code
    * reads the session's confs), completion/failure listeners fired, the
    * context unset and the task's memory released afterwards. A failure
    * is rethrown; there is no retry.
    */
  def apply[R](sc: SparkContext, partitionId: Int = 0, numPartitions: Int = 1)(
      body: TaskContext => R): R = {
    val env = SparkEnv.get
    val attemptId = nextAttemptId.decrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, attemptId)
    val ctx = new TaskContextImpl(
      stageId = -1, stageAttemptNumber = 0, partitionId = partitionId,
      taskAttemptId = attemptId, attemptNumber = 0, numPartitions = numPartitions,
      taskMemoryManager = memory,
      localProperties = Utils.cloneProperties(sc.getLocalProperties),
      metricsSystem = env.metricsSystem)
    TaskContext.setTaskContext(ctx)
    var failure: Option[Throwable] = None
    try body(ctx)
    catch {
      case e: Throwable =>
        failure = Some(e)
        try ctx.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
        throw e
    } finally {
      try ctx.markTaskCompleted(failure)
      catch { case t: Throwable if failure.isDefined => failure.get.addSuppressed(t) }
      finally {
        TaskContext.unset()
        memory.cleanUpAllAllocatedMemory()
      }
    }
  }

  /** Up to `limit` copied rows of partition `p` of `rdd`. */
  def rows(rdd: RDD[InternalRow], p: Int, limit: Int = Int.MaxValue): Array[InternalRow] =
    apply(rdd.sparkContext, p, rdd.getNumPartitions) { ctx =>
      rdd.iterator(rdd.partitions(p), ctx).take(limit).map(_.copy()).toArray
    }

  /** The rows of a local plan, computed on the calling thread: what a
    * key lookup answers, or what Project/Filter over at most [[MaxRows]]
    * in-memory rows produce. None for any other plan — its caller keeps
    * the job path.
    */
  def localRows(plan: SparkPlan): Option[Array[InternalRow]] = plan match {
    case l: LocalLookupExec => l.runLocally(Int.MaxValue)
    case p if inMemory(p) => Some(collect(p))
    case _ => None
  }

  /** Every partition of `plan`, run on the calling thread. */
  def collect(plan: SparkPlan): Array[InternalRow] = {
    val rdd = plan.execute()
    val out = (0 until rdd.getNumPartitions).toArray.flatMap(rows(rdd, _))
    postMetrics(rdd.sparkContext, plan)
    out
  }

  private def inMemory(plan: SparkPlan): Boolean = plan match {
    case s: LocalTableScanExec => s.rows.size <= MaxRows
    case p @ (_: ProjectExec | _: FilterExec | _: WholeStageCodegenExec | _: InputAdapter) =>
      p.subqueries.isEmpty && inMemory(p.children.head)
    case _ => false
  }

  /** The logical counterpart of the in-memory test: Project/Filter over
    * one `LocalRelation` of at most [[MaxRows]] rows.
    */
  def inMemory(plan: LogicalPlan): Boolean = plan match {
    case l: LocalRelation => !l.isStreaming && l.data.size <= MaxRows
    case p @ (_: Project | _: Filter) =>
      !p.expressions.exists(SubqueryExpression.hasSubquery) && inMemory(p.children.head)
    case _ => false
  }

  /** `rows` grouped by the partition `HashPartitioning(exprs, n)` sends
    * each to — the exchange's own partition-id expression, so a bucket
    * id computed here is the one the job path's shuffle assigns (and the
    * one a key lookup pins). `exprs` are bound to the rows. Groups keep
    * the rows' order and come in partition order.
    */
  def hashRoute(rows: Seq[InternalRow], exprs: Seq[Expression], n: Int)
      : Seq[(Int, Array[InternalRow])] = {
    val pid = HashPartitioning(exprs, n).partitionIdExpression
    rows.groupBy(r => pid.eval(r).asInstanceOf[Int]).toSeq.sortBy(_._1)
      .map { case (p, rs) => p -> rs.toArray }
  }

  /** No task carried `plan`'s metric updates back: post the driver-side
    * values so the SQL listener (and the UI) see what the plan did.
    */
  def postMetrics(sc: SparkContext, plan: SparkPlan): Unit = {
    val executionId = sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
    if (executionId != null)
      SQLMetrics.postDriverMetricUpdates(sc, executionId,
        plan.collect { case p => p.metrics.values }.flatten)
  }

  private[store] def localRunsMetric(sc: SparkContext): (String, SQLMetric) =
    "numLocalRuns" -> SQLMetrics.createMetric(sc, "number of runs on the calling thread")
}

/** Root of a prepared plan that answers a bounded key lookup — the
  * reference's routed region get (a PK read is a store get by the key's
  * bucket, no Spark job). `executeCollect`, `executeTake` and
  * `executeToIterator` run the child's single partition through
  * [[LocalRun]]: the same generated code and the same partition reader
  * as a one-task job, minus job submission, task launch and result
  * serialization.
  *
  * Every other consumer (`df.rdd`, writes, caching) goes through
  * `doExecute`, which is the child's RDD unchanged; a child that plans
  * more than one partition falls back to the job path.
  */
case class LocalLookupExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override lazy val metrics: Map[String, SQLMetric] = Map(LocalRun.localRunsMetric(sparkContext))

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    runLocally(Int.MaxValue).getOrElse(super.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty else runLocally(n).getOrElse(super.executeTake(n))

  // materialized: a lookup's answer is a handful of rows, and a lazy
  // iterator would leave the task context set while the consumer (a
  // Thrift fetch, possibly on another thread) pulls
  override def executeToIterator(): Iterator[InternalRow] =
    runLocally(Int.MaxValue).map(_.iterator).getOrElse(super.executeToIterator())

  private[store] def runLocally(limit: Int): Option[Array[InternalRow]] = {
    val rdd = child.execute()
    if (rdd.getNumPartitions > 1) return None
    val rows =
      if (rdd.getNumPartitions == 0) Array.empty[InternalRow]
      else LocalRun.rows(rdd, 0, limit)
    longMetric("numLocalRuns") += 1
    LocalRun.postMetrics(sparkContext, this)
    Some(rows)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): LocalLookupExec =
    copy(child = newChild)
}

/** Wraps a prepared plan in [[LocalLookupExec]] when the whole plan is
  * `ProjectExec`/`FilterExec`/`ColumnarToRowExec` over one
  * `BatchScanExec` whose scan reports a bounded key lookup (a full-PK
  * row-store probe, or a column-store read pinned to one bucket of a
  * table bucketed on its key) — at the root, or under a root
  * `CollectLimitExec` (`head()`, `first()`, `LIMIT n`), whose collect
  * takes from its child. Injected as the `postColumnarTransitions` half
  * of graft's columnar rule, so it runs before `CollapseCodegenStages`
  * and the child keeps whole-stage codegen.
  */
object LocalLookups extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case limit: CollectLimitExec if keyLookup(limit.child) =>
      limit.withNewChildren(Seq(LocalLookupExec(limit.child)))
    case _ if keyLookup(plan) => LocalLookupExec(plan)
    case _ => plan
  }

  private def keyLookup(plan: SparkPlan): Boolean = plan match {
    case ProjectExec(_, child) => keyLookup(child)
    case FilterExec(_, child) => keyLookup(child)
    case ColumnarToRowExec(child) => keyLookup(child)
    case scan: BatchScanExec if scan.runtimeFilters.isEmpty => scan.scan match {
      case s: StoreScan[_, _] => s.isKeyLookup
      case _ => false
    }
    case _ => false
  }
}

/** A DSv2 append into a store table whose rows are already on the
  * driver (a `VALUES` list): the reference's prepared-statement insert,
  * with no Spark job. The rows are routed with the hash partitioning the
  * write's required distribution would shuffle on (so partition id ==
  * bucket id, as on the job path), sorted by its required ordering, and
  * each non-empty partition runs Spark's own writing task body through
  * [[LocalRun]]; then `BatchWrite.commit` and the cache refresh, exactly
  * as `AppendDataExec` does after its job. Any failure aborts the
  * partition's writer and the batch write, committing nothing.
  *
  * @param partitionExprs the distribution's hash expressions over
  *                       `query.output`; empty for an unspecified one
  * @param numPartitions  partitions of that distribution (1 when empty)
  * @param ordering       the write's required ordering over `query.output`
  */
case class LocalAppendExec(query: SparkPlan, partitionExprs: Seq[Expression],
    numPartitions: Int, ordering: Seq[SortOrder], refreshCache: () => Unit, write: Write)
    extends V2CommandExec with V2ExistingTableWriteExec {

  override lazy val metrics: Map[String, SQLMetric] =
    customMetrics + LocalRun.localRunsMetric(sparkContext)

  override protected def writeWithV2(batchWrite: BatchWrite): Seq[InternalRow] = {
    val rows = LocalRun.collect(query)
    val parts =
      if (partitionExprs.isEmpty) Seq(0 -> rows)
      else LocalRun.hashRoute(rows.toSeq,
        partitionExprs.map(BindReferences.bindReference(_, query.output)), numPartitions)
    val order =
      if (ordering.isEmpty) None else Some(new InterpretedOrdering(ordering, query.output))
    val factory = batchWrite.createBatchWriterFactory(PhysicalWriteInfoImpl(numPartitions))
    val messages = ArrayBuffer.empty[WriterCommitMessage]
    try {
      parts.foreach { case (pid, partRows) =>
        val sorted = order.map(o => partRows.sorted(o)).getOrElse(partRows)
        // no speculative or retried attempt can race this one, so the
        // commit coordinator has nothing to arbitrate
        val result = LocalRun(sparkContext, pid, numPartitions) { ctx =>
          writingTask.run(factory, ctx, sorted.iterator, false, customMetrics)
        }
        messages += result.writerCommitMessage
        batchWrite.onDataWriterCommit(result.writerCommitMessage)
      }
      batchWrite.commit(messages.toArray)
    } catch {
      case cause: Throwable =>
        try batchWrite.abort(messages.toArray)
        catch { case t: Throwable => cause.addSuppressed(t) }
        throw QueryExecutionErrors.writingJobFailedError(cause)
    }
    commitProgress = Some(StreamWriterCommitProgress(rows.length))
    longMetric("numLocalRuns") += 1
    LocalRun.postMetrics(sparkContext, this)
    Nil
  }

  override protected def withNewChildInternal(newChild: SparkPlan): LocalAppendExec =
    copy(query = newChild)
}

/** Plans an `AppendData` into a column or row store table as a
  * [[LocalAppendExec]] when its source, below the repartition and sort
  * `V2Writes` added for the write's required distribution and ordering,
  * is in memory ([[LocalRun.inMemory]]). Overwrites and every other
  * source keep `AppendDataExec` and its job.
  */
case class LocalWrites(session: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AppendData(r: DataSourceV2Relation, query, _, _, Some(write), _)
        if r.table.isInstanceOf[StoreTable[_]] =>
      val (ordering, distributed) = query match {
        case Sort(order, false, child, _) => (order, child)
        case q => (Nil, q)
      }
      val routed = distributed match {
        case rp: RepartitionByExpression => rp.partitioning match {
          case h: HashPartitioning => Some((h.expressions, h.numPartitions, rp.child))
          case _ => None
        }
        case q => Some((Nil, 1, q))
      }
      routed.collect { case (exprs, n, source) if LocalRun.inMemory(source) =>
        val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        LocalAppendExec(planLater(source), exprs, n, ordering,
          () => classic.sharedState.cacheManager.recacheByPlan(classic, r), write)
      }.toSeq
    case _ => Nil
  }
}
