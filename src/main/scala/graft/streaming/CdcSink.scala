package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.GraftRowStore
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.BitSet

/** Exactly-once CDC-aware streaming upsert sink — the Structured-Streaming
  * rebuild of the reference's SnappyStoreSink
  * (reference: streaming/SnappySinkCallback.scala:63-391):
  *
  *  - events carry an `_eventType` column: 0=INSERT, 1=UPDATE, 2=DELETE
  *    (`:119-138`);
  *  - duplicate micro-batch detection via a PERSISTENT (queryName, table)
  *    → batchId state table consulted before applying
  *    (`isPossibleDuplicate:196-219`) — the state lives in the graft ROW
  *    store (reference keeps it in SNAPPYSYS_INTERNAL.SINK_STATE_TABLE, a
  *    row table), so a RESTARTED job replaying its last micro-batch from
  *    the checkpoint is still a no-op; nothing is process-local. State
  *    reads/writes are PK index probes on the row table — O(1) per
  *    micro-batch, no scan, no Spark job (the reference's GemFire region
  *    get), so sink overhead stays flat at high batch rates.
  *  - key conflation: only the LAST event per key in a batch is applied
  *    (`:143-236`), ordered by `orderCol`;
  *  - apply order: deletes first, then upserts (PUT INTO semantics on the
  *    managed table). The batchId is recorded in the same apply, AFTER
  *    the mutations: a crash between them replays a CONFLATED batch,
  *    which is idempotent per key (delete of a dead key and a keyed put
  *    are both no-op-or-overwrite).
  *  - TRANSIENT-FAILURE RETRY (reference DefaultSnappySinkCallback
  *    retries the batch apply, SnappySinkCallback.scala:239+): a failed
  *    apply is retried up to `maxRetries` times with linear backoff.
  *    Safe because a conflated batch is idempotent per key — a retry
  *    after a partial apply converges to the same final state.
  *
  * Registered SAMPLE tables of the target are NOT maintained by this
  * sink: CDC applies key-based upserts/deletes, and sample maintenance
  * follows the insert-only contract (`GraftSession.maintainSamples` —
  * matching the reference, whose `SampleInsertExec` fans inserts, not
  * updates). Rebuild samples after heavy CDC rewrites.
  *
  * Usage: `df.writeStream.foreachBatch(CdcSink(g, "table", Seq("k"), "ord").apply _)`.
  */
case class CdcSink(
    session: GraftSession,
    table: String,
    keyColumns: Seq[String],
    orderCol: String,
    queryName: String = "cdc",
    eventTypeCol: String = "_eventType",
    maxRetries: Int = 3,
    retryWaitMs: Long = 50) extends org.apache.spark.internal.Logging {

  def apply(batch: DataFrame, batchId: Long): Unit = {
    if (CdcSink.lastCommitted(session, queryName, table).exists(_ >= batchId))
      return // duplicate replay (in-session or post-restart) → no-op
    var attempt = 0
    var done = false
    while (!done) {
      try {
        applyBatch(batch)
        done = true
      } catch {
        case e: Exception if attempt < maxRetries =>
          attempt += 1
          logWarning(s"CdcSink: batch $batchId apply failed " +
            s"(attempt $attempt of $maxRetries), retrying in ${retryWaitMs * attempt} ms: $e")
          Thread.sleep(retryWaitMs * attempt)
      }
    }
    CdcSink.record(session, queryName, table, batchId)
  }

  private[streaming] def applyBatch(batch: DataFrame): Unit = {
    CdcSink.failureInjector()
    // Conflate: last event per key wins, "last" = max orderCol then max
    // event type for full determinism.
    val w = Window.partitionBy(keyColumns.map(col): _*)
      .orderBy(col(orderCol).desc, col(eventTypeCol).desc)
    val conflated = batch
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
    val deletes = conflated.filter(col(eventTypeCol) === CdcSink.Delete)
    val upserts = conflated.filter(col(eventTypeCol) =!= CdcSink.Delete)
      .drop(eventTypeCol, orderCol)

    if (!deletes.isEmpty) session.deleteKeys(table, deletes)
    if (!upserts.isEmpty) session.putInto(table, upserts)
  }
}

object CdcSink {
  val Insert = 0
  val Update = 1
  val Delete = 2

  /** The persistent sink-state table (reference SINK_STATE_TABLE). */
  val StateTable = "graft_sink_state"

  /** Test hook: throws injected transient failures inside applyBatch
    * (StreamingSpec proves the retry loop preserves exactly-once).
    */
  private[graft] var failureInjector: () => Unit = () => ()

  private val stateSchema = StructType(Seq(
    StructField("query_name", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("batch_id", LongType, nullable = false)))

  private def stateTable(): GraftRowStore.RowTable =
    GraftRowStore.getOrCreate(StateTable, stateSchema,
      keyColumns = Seq("query_name", "table_name"), bucketBy = Nil, numBuckets = 1)

  private def stateKey(queryName: String, table: String): GraftRowStore.RowKey =
    GraftRowStore.RowKey(Seq(
      UTF8String.fromString(queryName), UTF8String.fromString(table)))

  /** Highest batchId recorded for (queryName, table), surviving session
    * restarts (any process with the same store sees it). A driver-local
    * PK index probe over the state row table — no Spark job.
    */
  def lastCommitted(session: GraftSession, queryName: String, table: String): Option[Long] =
    GraftRowStore.get(StateTable).flatMap { t =>
      val s = t.snapshot
      s.probe(stateKey(queryName, table), s.refs).map { case (packId, slot) =>
        GraftRowStore.packs(packId).rows(slot).getLong(2)
      }
    }

  /** Record (queryName, table) → batchId: tombstone the previous state
    * row (index probe) + append a one-row pack, one atomic snapshot swap
    * — the row store's normal upsert, driven driver-side because the
    * payload is a single row.
    */
  def record(session: GraftSession, queryName: String, table: String, batchId: Long): Unit = {
    val t = stateTable()
    val s = t.snapshot
    val key = stateKey(queryName, table)
    val dead: Map[Long, BitSet] = s.probe(key, s.refs) match {
      case Some((packId, slot)) => Map(packId -> BitSet(slot))
      case None => Map.empty
    }
    val row = InternalRow(
      UTF8String.fromString(queryName), UTF8String.fromString(table), batchId)
    val pack = new GraftRowStore.RowPack(Array(row), s.keyOrdinals, s.keyTypes)
    val ref = GraftRowStore.PackRef(GraftRowStore.packs.put(pack), 0, 1)
    t.applyMutation(dead, Seq(ref))
  }
}
