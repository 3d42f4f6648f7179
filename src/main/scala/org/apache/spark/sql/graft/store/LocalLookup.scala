package org.apache.spark.sql.graft.store

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, ProjectExec, SQLExecution, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.util.Utils

/** Root of a prepared plan that answers a bounded key lookup — the
  * reference's routed region get (a PK read is a store get by the key's
  * bucket, no Spark job). `executeCollect`, `executeTake` and
  * `executeToIterator` run the child's single partition on the calling
  * thread inside a driver-side task context: the same generated code and
  * the same partition reader as a one-task job, minus job submission,
  * task launch and result serialization.
  *
  * Every other consumer (`df.rdd`, writes, caching) goes through
  * `doExecute`, which is the child's RDD unchanged; a child that plans
  * more than one partition falls back to the job path.
  */
case class LocalLookupExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

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

  private def runLocally(limit: Int): Option[Array[InternalRow]] = {
    val rdd = child.execute()
    if (rdd.getNumPartitions > 1) return None
    val rows =
      if (rdd.getNumPartitions == 0) Array.empty[InternalRow]
      else LocalLookupExec.runPartition(rdd, limit)
    // no task carried the metric updates back: post the driver-side
    // values so the SQL listener (and the UI) see what the plan did
    val executionId = sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
    if (executionId != null) {
      SQLMetrics.postDriverMetricUpdates(sparkContext, executionId,
        child.collect { case p => p.metrics.values }.flatten)
    }
    Some(rows)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): LocalLookupExec =
    copy(child = newChild)
}

object LocalLookupExec {

  // attempt ids of driver-side runs count down from -1, disjoint from the
  // scheduler's task ids (the memory manager books execution memory by id)
  private val nextAttemptId = new AtomicLong(0)

  /** Runs partition 0 of `rdd` on this thread the way an executor runs a
    * task: its own `TaskMemoryManager`, a clone of the thread's local
    * properties (so `SQLConf.get` in generated code reads the session's
    * confs), completion/failure listeners fired, the context unset and
    * the task's memory released afterwards. Returns up to `limit` copied
    * rows.
    */
  private[store] def runPartition(rdd: RDD[InternalRow], limit: Int): Array[InternalRow] = {
    val env = SparkEnv.get
    val attemptId = nextAttemptId.decrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, attemptId)
    val ctx = new TaskContextImpl(
      stageId = -1, stageAttemptNumber = 0, partitionId = 0,
      taskAttemptId = attemptId, attemptNumber = 0, numPartitions = 1,
      taskMemoryManager = memory,
      localProperties = Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      metricsSystem = env.metricsSystem)
    GraftRowStore.localLookups.incrementAndGet()
    TaskContext.setTaskContext(ctx)
    var failure: Option[Throwable] = None
    try {
      rdd.iterator(rdd.partitions(0), ctx).take(limit).map(_.copy()).toArray
    } catch {
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
}

/** Wraps the root of a prepared plan in [[LocalLookupExec]] when the
  * whole plan is `ProjectExec`/`FilterExec`/`ColumnarToRowExec` over one
  * `BatchScanExec` whose scan reports a bounded key lookup (a full-PK
  * row-store probe, or a column-store read pinned to one bucket of a
  * table bucketed on its key). Injected as the `postColumnarTransitions`
  * half of graft's columnar rule, so it runs before
  * `CollapseCodegenStages` and the child keeps whole-stage codegen.
  */
object LocalLookups extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (keyLookup(plan)) LocalLookupExec(plan) else plan

  private def keyLookup(plan: SparkPlan): Boolean = plan match {
    case ProjectExec(_, child) => keyLookup(child)
    case FilterExec(_, child) => keyLookup(child)
    case ColumnarToRowExec(child) => keyLookup(child)
    case scan: BatchScanExec if scan.runtimeFilters.isEmpty => scan.scan match {
      case s: GraftRowScan => s.isKeyLookup
      case s: GraftScan => s.isKeyLookup
      case _ => false
    }
    case _ => false
  }
}
