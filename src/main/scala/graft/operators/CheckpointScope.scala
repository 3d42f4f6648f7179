package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.RddBlocks

/** Deterministic lifecycle for the eager `localCheckpoint` intermediates
  * the dedup operators materialize ([[Dedup.minhashNearDupsFast]],
  * [[Dedup.incrementalMinhash]], [[Dedup.minhashFrames]] and the
  * measured-broadcast guard inside them).
  *
  * Those checkpoints back the frames the operators RETURN — they cannot
  * be dropped inside the call — and without intervention their executor
  * blocks live until Spark's ContextCleaner notices the RDD objects are
  * garbage, which in a long-running `foreachBatch` ingest loop means
  * blocks from many past batches accumulate between GCs. Passing a scope
  * makes reclamation explicit:
  *
  * {{{
  * val scope = new CheckpointScope
  * val (pairs, newBands, newSigs) =
  *   Dedup.incrementalMinhash(batch, "id", "text", regBands, regSigs,
  *     scope = Some(scope))
  * // ... materialize pairs, append newBands/newSigs ...
  * scope.release()   // frees every intermediate's blocks NOW
  * }}}
  *
  * `release()` must run only after every returned frame is fully
  * materialized (collected / written): localCheckpoint truncates lineage,
  * so a released block cannot be recomputed. Operators called WITHOUT a
  * scope behave as before (blocks reclaimed on RDD GC).
  */
final class CheckpointScope {
  private val frames = ArrayBuffer.empty[DataFrame]

  /** Eagerly localCheckpoint `df` and remember it for [[release]]. */
  private[graft] def checkpoint(df: DataFrame): DataFrame = synchronized {
    val c = df.localCheckpoint(eager = true)
    frames += c
    c
  }

  /** Number of tracked checkpoints (probe/spec surface). */
  def trackedCount: Int = synchronized(frames.size)

  /** Unpersist every tracked checkpoint's blocks and forget them. */
  def release(blocking: Boolean = false): Unit = synchronized {
    frames.foreach(CheckpointScope.unpersist(_, blocking))
    frames.clear()
  }
}

object CheckpointScope {
  /** Free the blocks of the RDD backing a (local)checkpointed frame;
    * no-op for frames that are not checkpoint scans.
    */
  def unpersist(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => RddBlocks.free(lr.rdd, blocking)
      case _ => ()
    }
}
