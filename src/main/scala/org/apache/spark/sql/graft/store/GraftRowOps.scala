package org.apache.spark.sql.graft.store

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.BitSet
import scala.collection.mutable

/** Distributed DML over graftrow tables (reference: RowUpdateExec /
  * RowDeleteExec / RowInsertExec prepared-statement writes in
  * core/.../execution/row/, and ColumnTableBulkOps put-into —
  * here against the row store, where every op resolves through the
  * per-pack key index).
  *
  * Scale shape: all ops are O(delta) —
  *  - key-addressed ops (put, deleteKeys) shuffle the SOURCE on the
  *    bucket routing, then probe pack indexes task-side; no table scan;
  *  - predicate ops (update, delete) locate victims via a normal
  *    pushed-down scan over the hidden address columns;
  *  - mutation = tombstone + append: new row versions land in new packs
  *    written by the tasks, only metadata (pack refs, tombstone bitmaps)
  *    returns to the driver, which swaps the snapshot atomically;
  *  - a single-row op submits no job: a put whose source is local and a
  *    delete whose victim read is a key lookup run the same task body on
  *    the calling thread ([[LocalRun]]).
  */
object GraftRowOps extends StoreOps[GraftRowStore.RowSnapshot, GraftRowStore.PackRef, Unit] {
  import GraftRowStore.{PackRef, RowSnapshot}

  val FORMAT: String = classOf[GraftRowSource].getName
  val provider: String = "row"
  protected val registry: GraftRowStore.type = GraftRowStore
  protected def tier: PayloadTier[_] = GraftRowStore.packs

  private def withAddress(spark: SparkSession, table: String): DataFrame = {
    val df = read(spark, table)
    df.select(df.metadataColumn(GraftRowTable.PACK_ID_COL).as("_pid"),
      df.metadataColumn(StoreTable.ROW_IDX_COL).as("_rid"), col("*"))
  }

  // a row table's layout is the shared one
  protected def resolveOwn(schema: StructType, options: Map[String, String],
      existing: Option[RowSnapshot]): Unit = ()
  protected def ownOf(snap: RowSnapshot): Unit = ()
  protected def ownKeys: Seq[(String, Unit => String)] = Nil
  protected def ownTunables: Seq[String] = Nil

  protected def withLayout(s: RowSnapshot, schema: StructType, base: BaseLayout,
      own: Unit): RowSnapshot =
    retune(s.copy(schema = schema, keyColumns = base.keyColumns, bucketBy = base.bucketBy,
      numBuckets = base.numBuckets), base, own)

  protected def retune(s: RowSnapshot, base: BaseLayout, own: Unit): RowSnapshot =
    s.copy(evictionBudget = base.evictionBudget, expireSeconds = base.expireSeconds)

  protected def register(name: String, schema: StructType, base: BaseLayout, own: Unit,
      replace: Boolean): GraftRowStore.RowTable =
    GraftRowStore.create(name, withLayout(
      RowSnapshot(schema, Nil, Nil, 0, Vector.empty, Map.empty), schema, base, own), replace)

  protected def newTable(name: String, schema: StructType, base: BaseLayout,
      own: Unit): StoreTable[Unit] =
    new GraftRowTable(name, schema, base)

  /** Secondary indexes are recorded by COLUMN and rebuilt at restore
    * (their stats key the new pack ids).
    */
  protected val rebuiltKey: String = "indexed"
  protected def rebuiltColumns(snap: GraftRowStore.RowSnapshot): Seq[String] =
    snap.indexes.values.map(_.column).toSeq.sorted
  protected def rebuild(spark: SparkSession, table: String, columns: Seq[String]): Unit =
    columns.foreach(c => createIndex(spark, table, c))

  private[store] val pinOption: String = "pack_ids"
  private[store] val addressColumn: String = GraftRowTable.PACK_ID_COL
  private[store] val payloadPrefix: String = "p"
  /** Packs are immutable and their tombstone sets only GROW (deletes and
    * upserts union slots in; a fully-dead pack leaves the ref list, a
    * roll-up mints NEW ids), so equal tombstone states prove the pack's
    * visible rows are unchanged.
    */
  protected def mutationFingerprints(snap: GraftRowStore.RowSnapshot,
      ids: Set[Long]): Map[Long, String] =
    ids.iterator.map { id =>
      id -> snap.tombstones.get(id).map(b => s"${b.size}|${b.hashCode}").getOrElse("0")
    }.toMap

  /** Secondary indexes after a rewrite: their stats keyed the OLD pack
    * ids and may name dropped columns — cleared, and the survivors
    * (following renames) rebuilt, the same treatment as compact().
    */
  override protected def afterRewrite(spark: SparkSession, table: String,
      snap: GraftRowStore.RowSnapshot, r: Relayout): Unit = {
    GraftRowStore(table).mutate(_.copy(indexes = Map.empty))
    rebuild(spark, table, r.surviving(rebuiltColumns(snap)).sorted)
  }

  /** Run `f` on a snapshot pinned by a reader lease: a key-probe job's
    * tasks resolve pack payloads from this snapshot, and a concurrent
    * mutation would otherwise free retired packs mid-job. The lease owner
    * stays reachable until `f` returns.
    */
  private def withPinned(t: GraftRowStore.RowTable)(
      f: GraftRowStore.RowSnapshot => Unit): Unit = {
    val (snap, leaseId) = t.pinSnapshot()
    val leaseOwner = new Object
    t.addLeaseOwner(leaseId, leaseOwner)
    try f(snap)
    finally java.lang.ref.Reference.reachabilityFence(leaseOwner)
  }

  /** Union per-task tombstone bitmaps (pack id → bitmask words). */
  private def mergeBitmaps(parts: Iterator[(Long, Array[Long])]): Map[Long, BitSet] = {
    val merged = mutable.Map.empty[Long, BitSet]
    parts.foreach { case (id, words) =>
      val bs = BitSet.fromBitMaskNoCopy(words)
      merged(id) = merged.get(id).map(_ | bs).getOrElse(bs)
    }
    merged.toMap
  }

  /** The key-addressed probe shared by put and deleteKeys: one task per
    * source partition, where each source row's key tombstones its live
    * match among the candidate packs — the task's own bucket when
    * `bucketed` (the key determines the bucket), every live pack
    * otherwise. `source` is the routed source for a job
    * (`Left`), or rows already on the driver, grouped by the partition
    * the job path would route them to (`Right`): the same task body runs
    * on the calling thread once per group, with no job. `task(pid)` gives
    * the per-task consumer of each probed row and the packs the task
    * sealed after its last row. Returns the merged tombstones and the
    * sealed packs; a failed local run releases the packs earlier groups
    * sealed.
    */
  private def probeKeys(spark: SparkSession,
      source: Either[DataFrame, Seq[(Int, Array[InternalRow])]],
      snap: GraftRowStore.RowSnapshot, bucketed: Boolean, keyOrds: Array[Int],
      keyTypes: Array[org.apache.spark.sql.types.DataType])(
      task: Int => (InternalRow => Unit, () => Seq[GraftRowStore.PackRef]))
      : (Map[Long, BitSet], Seq[GraftRowStore.PackRef]) = {
    // one TTL cut for both enumerations (liveRefs reads the clock)
    val allRefs = snap.liveRefs
    val refsByBucket = allRefs.groupBy(_.bucketId)
    val tomb = snap.tombstones
    val body = (pid: Int, it: Iterator[InternalRow]) => {
      val candidates = if (bucketed) refsByBucket.getOrElse(pid, Vector.empty) else allRefs
      // resolve candidate packs ONCE per task: a fetch deserializes a
      // SPILLED pack from disk per call, so a per-row fetch would pay
      // O(rows x spilled packs) inflations
      val candidatePacks = candidates.map(ref => ref.id -> GraftRowStore.packs(ref.id))
      val tombstones = mutable.Map.empty[Long, mutable.BitSet]
      val (onRow, finish) = task(pid)
      it.foreach { r =>
        val key = GraftRowStore.keyOf(r, keyOrds, keyTypes)
        candidatePacks.foreach { case (id, pack) =>
          val slot = pack.index.get(key)
          if (slot != null && !tomb.get(id).exists(_.contains(slot.intValue())))
            tombstones.getOrElseUpdate(id, mutable.BitSet.empty) += slot.intValue()
        }
        onRow(r)
      }
      (tombstones.map { case (k, v) => k -> v.toBitMask }.toMap, finish())
    }
    val results = source match {
      case Left(routed) =>
        routed.queryExecution.toRdd
          .mapPartitionsWithIndex((pid, it) => Iterator.single(body(pid, it))).collect().toSeq
      case Right(parts) =>
        val numPartitions = math.max(1, snap.numBuckets)
        val done = mutable.ArrayBuffer.empty[(Map[Long, Array[Long]], Seq[GraftRowStore.PackRef])]
        try parts.foreach { case (pid, rows) =>
          done += LocalRun(spark.sparkContext, pid, numPartitions)(_ => body(pid, rows.iterator))
        } catch {
          case e: Throwable =>
            GraftRowStore.packs.release(done.flatMap(_._2.map(_.id)))
            throw e
        }
        done.toSeq
    }
    (mergeBitmaps(results.iterator.flatMap(_._1)), results.flatMap(_._2))
  }

  /** PUT INTO (upsert): for each source row, the live row with the same
    * key (if any) is tombstoned and the source row appended — both sides
    * resolved task-side after one shuffle of the SOURCE onto the bucket
    * routing (reference: PK-routed put against the bucket region). A
    * local source (a `VALUES` list, or a key lookup — UPDATE's pinned
    * read) is collected without a job, de-duplicated on the driver
    * keeping each key's first row (the row `dropDuplicates` keeps) and
    * probed on the calling thread.
    */
  override def put(spark: SparkSession, table: String, source: DataFrame): Unit = {
    ReplicaGuard.requireWritable(table, "put")
    val t = GraftRowStore(table)
    withPinned(t) { snap =>
      require(snap.keyColumns.nonEmpty, s"graftrow.put($table) requires key_columns")
      val cols = snap.schema.fieldNames.toSeq
      val src = if (source.columns.toSeq == cols) source
        else if (source.columns.toSet == cols.toSet) source.select(cols.map(col): _*)
        else source.toDF(cols: _*)
      val bucketed = snap.numBuckets > 0 && snap.bucketBy == snap.keyColumns
      val keyOrds = snap.keyOrdinals
      val keyTypes = snap.keyTypes
      val numBuckets = snap.numBuckets
      val routed = LocalRun.localRows(src.queryExecution.executedPlan) match {
        case Some(rows) =>
          val seen = new java.util.HashSet[GraftRowStore.RowKey]()
          val distinct = rows.filter(r => seen.add(GraftRowStore.keyOf(r, keyOrds, keyTypes)))
          Right(
            if (numBuckets > 0) LocalRun.hashRoute(distinct.toSeq, snap.bucketBy.map { c =>
              val i = cols.indexOf(c)
              BoundReference(i, src.schema(i).dataType, nullable = true)
            }, numBuckets)
            else Seq(0 -> distinct))
        case None =>
          val deduped = src.dropDuplicates(snap.keyColumns)
          Left(if (numBuckets > 0) deduped.repartition(numBuckets, snap.bucketBy.map(col): _*)
            else deduped)
      }
      val (tombstones, newRefs) = probeKeys(spark, routed, snap, bucketed, keyOrds, keyTypes) { pid =>
        val sealer = new GraftRowStore.PackSealer(keyOrds, keyTypes,
          if (numBuckets > 0) pid else -1)
        // a failed attempt releases what it sealed
        Option(TaskContext.get()).foreach(_.addTaskFailureListener((_, _) => sealer.abort()))
        (r => sealer.add(r.copy()), () => sealer.result())
      }
      t.applyMutation(tombstones, newRefs)
    }
  }

  /** DELETE every row whose key matches a row of `keys` — the source is
    * bucket-routed and resolved by index probe; no table scan.
    */
  override def deleteKeys(spark: SparkSession, table: String, keys: DataFrame): Unit = {
    ReplicaGuard.requireWritable(table, "deleteKeys")
    val t = GraftRowStore(table)
    withPinned(t) { snap =>
      require(snap.keyColumns.nonEmpty, s"graftrow.deleteKeys($table) requires key_columns")
      val src = keys.select(snap.keyColumns.map(col): _*).dropDuplicates(snap.keyColumns)
      val bucketed = snap.numBuckets > 0 && snap.bucketBy == snap.keyColumns
      val routed =
        if (bucketed) src.repartition(snap.numBuckets, snap.bucketBy.map(col): _*)
        else src
      // the source rows ARE the keys
      val (tombstones, _) = probeKeys(spark, Left(routed), snap, bucketed,
        snap.keyColumns.indices.toArray, snap.keyTypes)(_ => (_ => (), () => Nil))
      if (tombstones.nonEmpty) t.applyMutation(tombstones, Nil)
    }
  }

  /** DELETE FROM table WHERE cond: victims located by pushed-down scan on
    * the hidden addresses, tombstoned per pack. A victim read pinned to
    * a key is a key lookup and runs on the calling thread, with no job.
    */
  override def delete(spark: SparkSession, table: String, cond: Column): Unit = {
    ReplicaGuard.requireWritable(table, "delete")
    // a filter drops NULL like FALSE; the bare condition (not wrapped in
    // coalesce) is what pushes down and pins a nullable key
    val victims = withAddress(spark, table)
      .filter(cond)
      .select(col("_pid"), col("_rid"))
    val bitmapsOf = (it: Iterator[InternalRow]) => {
      val acc = mutable.Map.empty[Long, mutable.BitSet]
      it.foreach(r => acc.getOrElseUpdate(r.getLong(0), mutable.BitSet.empty) += r.getInt(1))
      acc.iterator.map { case (p, s) => (p, s.toBitMask) }
    }
    val bitmaps = LocalRun.localRows(victims.queryExecution.executedPlan) match {
      case Some(rows) => bitmapsOf(rows.iterator).toArray
      case None => victims.queryExecution.toRdd.mapPartitions(bitmapsOf).collect()
    }
    if (bitmaps.nonEmpty)
      GraftRowStore(table).applyMutation(mergeBitmaps(bitmaps.iterator), Nil)
  }

  /** UPDATE table SET assignments WHERE cond: new row versions are
    * computed by the (codegen'd) scan+project and re-put; key and bucket
    * columns cannot be assigned (reference: PK columns are immutable).
    */
  override def update(spark: SparkSession, table: String, cond: Column,
      assignments: Seq[(String, Column)]): Unit = {
    ReplicaGuard.requireWritable(table, "update")
    val t = GraftRowStore(table)
    val snap = t.snapshot
    require(snap.keyColumns.nonEmpty, s"graftrow.update($table) requires key_columns")
    assignments.foreach { case (n, _) =>
      require(!snap.keyColumns.contains(n) && !snap.bucketBy.contains(n),
        s"graftrow.update($table): cannot assign key/bucket column $n")
    }
    val setMap = assignments.toMap
    val updated = read(spark, table)
      .filter(cond)
      .select(snap.schema.fieldNames.map(c =>
        setMap.get(c).map(_.as(c)).getOrElse(col(c))).toSeq: _*)
    // put tombstones the old version by key and appends the new one
    put(spark, table, updated)
  }

  /** Roll tombstoned packs into fresh dense ones (pack GC). Secondary
    * indexes are rebuilt over the fresh packs afterwards — their stats
    * keyed the OLD pack ids, so without the rebuild every range scan
    * would degrade to an unpruned (still correct) full scan.
    */
  def compact(spark: SparkSession, table: String): Unit = {
    val indexed = GraftRowStore(table).snapshot.indexes.values.map(_.column).toSeq
    val df = read(spark, table)
    // cluster each writer partition on the indexed columns so the fresh
    // packs keep narrow (min, max) ranges — pruning power, not just
    // correctness, survives the compaction
    val clustered =
      if (indexed.nonEmpty) df.sortWithinPartitions(indexed.map(col): _*) else df
    clustered.write.format(FORMAT).option("table", table)
      .mode("overwrite").save()
    indexed.foreach(c => createIndex(spark, table, c))
  }

  /** CREATE INDEX on a row-table column (reference
    * SnappySession.createIndex:1760 — B-tree secondary indexes with range
    * scans). Distributed build, metadata commit: one task per pack group
    * materializes the executor-resident sorted-slot array
    * ([[GraftRowStore.SortedSlotRegistry]]) and returns only the pack's
    * (min, max) of the column — a handful of values per pack — which the
    * driver installs as planning-time pruning stats. O(table·log pack)
    * once at build, like any index build; data never moves.
    */
  def createIndex(spark: SparkSession, table: String, column: String): Unit = {
    val t = GraftRowStore(table)
    val snap = t.snapshot
    val ordinal = snap.schema.fieldIndex(column)
    val dt = snap.schema.fields(ordinal).dataType
    val ids = snap.refs.map(_.id)
    val stats: Map[Long, (Any, Any)] =
      if (ids.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(ids, math.max(1,
          math.min(ids.size, spark.sparkContext.defaultParallelism)))
        .map { pid =>
          val (slots, nonNull) =
            GraftRowStore.SortedSlotRegistry.sortedSlots(pid, column, ordinal, dt)
          if (nonNull == 0) (pid, null: Any, null: Any)
          else {
            val rows = GraftRowStore.packs(pid).rows
            (pid, rows(slots(0)).get(ordinal, dt),
              rows(slots(nonNull - 1)).get(ordinal, dt))
          }
        }
        .collect()
        .collect { case (pid, mn, mx) if mn != null => pid -> (mn, mx) }
        .toMap
    t.mutate(s => s.copy(indexes =
      s.indexes + (column.toLowerCase -> GraftRowStore.IndexStats(column, stats))))
  }

  override def createIndex(spark: SparkSession, table: String,
      columns: Seq[String]): Unit =
    columns.foreach(createIndex(spark, table, _))

  /** DROP INDEX: clears the secondary-index metadata (memoized sorted
    * arrays are harmless to keep; they die with their packs).
    */
  override def dropIndex(spark: SparkSession, table: String): Unit =
    GraftRowStore(table).mutate(_.copy(indexes = Map.empty))
}
