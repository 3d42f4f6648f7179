package org.apache.spark.sql.graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *    returns to the driver, which swaps the snapshot atomically.
  */
object GraftRowOps extends StoreOps[GraftRowStore.RowSnapshot] {

  val FORMAT: String = classOf[GraftRowSource].getName

  private def withAddress(spark: SparkSession, table: String): DataFrame = {
    val df = read(spark, table)
    df.select(df.metadataColumn(GraftRowTable.PACK_ID_COL).as("_pid"),
      df.metadataColumn(GraftRowTable.ROW_IDX_COL).as("_rid"), col("*"))
  }

  protected def snapshotOf(table: String): GraftRowStore.RowSnapshot =
    GraftRowStore(table).snapshot

  /** Secondary indexes after a rewrite: their stats keyed the OLD pack
    * ids and may name dropped columns — cleared, and the survivors
    * (following renames) rebuilt, the same treatment as compact().
    */
  override protected def afterRewrite(spark: SparkSession, table: String,
      snap: GraftRowStore.RowSnapshot, r: Relayout): Unit = {
    GraftRowStore(table).mutate(_.copy(indexes = Map.empty))
    r.surviving(snap.indexes.values.map(_.column).toSeq).sorted
      .foreach(c => createIndex(spark, table, c))
  }

  /** PUT INTO (upsert): for each source row, the live row with the same
    * key (if any) is tombstoned and the source row appended — both sides
    * resolved task-side after one shuffle of the SOURCE onto the bucket
    * routing (reference: PK-routed put against the bucket region).
    */
  def put(spark: SparkSession, table: String, source: DataFrame): Unit = {
    ReplicaGuard.requireWritable(table, "put")
    val t = GraftRowStore(table)
    // pin a reader lease for the probe job: its tasks resolve pack
    // payloads from this snapshot, and a concurrent mutation would
    // otherwise free retired packs mid-job (only the scan path pinned
    // leases before). The op object keeps the lease alive until the
    // fence below.
    val (snap, leaseId) = t.pinSnapshot()
    val leaseOwner = new Object
    t.addLeaseOwner(leaseId, leaseOwner)
    try putInner(spark, t, snap, source)
    finally java.lang.ref.Reference.reachabilityFence(leaseOwner)
  }

  private def putInner(spark: SparkSession, t: GraftRowStore.RowTable,
      snap: GraftRowStore.RowSnapshot, source: DataFrame): Unit = {
    val table = t.name
    require(snap.keyColumns.nonEmpty, s"graftrow.put($table) requires key_columns")
    val cols = snap.schema.fieldNames.toSeq
    val src = (if (source.columns.toSeq == cols) source
      else if (source.columns.toSet == cols.toSet) source.select(cols.map(col): _*)
      else source.toDF(cols: _*)).dropDuplicates(snap.keyColumns)
    val routed =
      if (snap.numBuckets > 0)
        src.repartition(snap.numBuckets, snap.bucketBy.map(col): _*)
      else src
    val bucketed = snap.numBuckets > 0 && snap.bucketBy == snap.keyColumns
    // one TTL cut for both enumerations (liveRefs reads the clock)
    val allRefs = snap.liveRefs
    val refsByBucket = allRefs.groupBy(_.bucketId)
    val tomb = snap.tombstones
    val schema = snap.schema
    val keyCols = snap.keyColumns

    val results = routed.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val keyOrds = keyCols.map(schema.fieldIndex).toArray
      val keyTypes = keyOrds.map(schema.fields(_).dataType)
      val candidates = if (bucketed) refsByBucket.getOrElse(pid, Vector.empty) else allRefs
      // resolve candidate packs ONCE per task: a fetch deserializes a
      // SPILLED pack from disk per call, so a per-row fetch would pay
      // O(rows x spilled packs) inflations
      val candidatePacks = candidates.map(ref =>
        ref.id -> GraftRowStore.packs(ref.id))
      val tombstones = mutable.Map.empty[Long, mutable.BitSet]
      val buf = mutable.ArrayBuffer.empty[org.apache.spark.sql.catalyst.InternalRow]
      val newRefs = mutable.ArrayBuffer.empty[GraftRowStore.PackRef]
      val bucketId = if (snap.numBuckets > 0) pid else -1
      def seal(): Unit = if (buf.nonEmpty) {
        val pack = new GraftRowStore.RowPack(buf.toArray, keyOrds, keyTypes)
        newRefs += GraftRowStore.PackRef(GraftRowStore.packs.put(pack),
          bucketId, pack.numRows, createdAtMs = StoreClock.nowMs)
        buf.clear()
      }
      it.foreach { r =>
        val row = r.copy()
        val key = GraftRowStore.keyOf(row, keyOrds, keyTypes)
        candidatePacks.foreach { case (id, pack) =>
          val slot = pack.index.get(key)
          if (slot != null && !tomb.get(id).exists(_.contains(slot.intValue())))
            tombstones.getOrElseUpdate(id, mutable.BitSet.empty) += slot.intValue()
        }
        buf += row
        if (buf.length >= GraftRowTable.PACK_SIZE) seal()
      }
      seal()
      Iterator.single((tombstones.map { case (k, v) => k -> v.toBitMask }.toMap,
        newRefs.toSeq))
    }.collect()

    val mergedTomb = mutable.Map.empty[Long, BitSet]
    val mergedRefs = mutable.ArrayBuffer.empty[GraftRowStore.PackRef]
    results.foreach { case (tm, rs) =>
      tm.foreach { case (id, words) =>
        val bs = BitSet.fromBitMaskNoCopy(words)
        mergedTomb(id) = mergedTomb.get(id).map(_ | bs).getOrElse(bs)
      }
      mergedRefs ++= rs
    }
    t.applyMutation(mergedTomb.toMap, mergedRefs.toSeq)
  }

  /** DELETE every row whose key matches a row of `keys` — the source is
    * bucket-routed and resolved by index probe; no table scan.
    */
  def deleteKeys(spark: SparkSession, table: String, keys: DataFrame): Unit = {
    ReplicaGuard.requireWritable(table, "deleteKeys")
    val t = GraftRowStore(table)
    // pinned lease for the probe job — see put()
    val (snap, leaseId) = t.pinSnapshot()
    val leaseOwner = new Object
    t.addLeaseOwner(leaseId, leaseOwner)
    try deleteKeysInner(t, snap, keys)
    finally java.lang.ref.Reference.reachabilityFence(leaseOwner)
  }

  private def deleteKeysInner(t: GraftRowStore.RowTable,
      snap: GraftRowStore.RowSnapshot, keys: DataFrame): Unit = {
    val table = t.name
    require(snap.keyColumns.nonEmpty, s"graftrow.deleteKeys($table) requires key_columns")
    val src = keys.select(snap.keyColumns.map(col): _*).dropDuplicates(snap.keyColumns)
    val bucketed = snap.numBuckets > 0 && snap.bucketBy == snap.keyColumns
    val routed =
      if (bucketed) src.repartition(snap.numBuckets, snap.bucketBy.map(col): _*)
      else src
    // one TTL cut for both enumerations (liveRefs reads the clock)
    val allRefs = snap.liveRefs
    val refsByBucket = allRefs.groupBy(_.bucketId)
    val tomb = snap.tombstones
    val keySchema = org.apache.spark.sql.types.StructType(
      snap.keyColumns.map(c => snap.schema.fields(snap.schema.fieldIndex(c))))

    val results = routed.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val keyOrds = keySchema.fieldNames.indices.toArray
      val keyTypes = keySchema.fields.map(_.dataType)
      val candidates = if (bucketed) refsByBucket.getOrElse(pid, Vector.empty) else allRefs
      // pack resolution hoisted out of the row loop — see put()
      val candidatePacks = candidates.map(ref =>
        ref.id -> GraftRowStore.packs(ref.id))
      val tombstones = mutable.Map.empty[Long, mutable.BitSet]
      it.foreach { r =>
        val key = GraftRowStore.keyOf(r, keyOrds, keyTypes)
        candidatePacks.foreach { case (id, pack) =>
          val slot = pack.index.get(key)
          if (slot != null && !tomb.get(id).exists(_.contains(slot.intValue())))
            tombstones.getOrElseUpdate(id, mutable.BitSet.empty) += slot.intValue()
        }
      }
      Iterator.single(tombstones.map { case (k, v) => k -> v.toBitMask }.toMap)
    }.collect()

    val merged = mutable.Map.empty[Long, BitSet]
    results.foreach(_.foreach { case (id, words) =>
      val bs = BitSet.fromBitMaskNoCopy(words)
      merged(id) = merged.get(id).map(_ | bs).getOrElse(bs)
    })
    if (merged.nonEmpty) t.applyMutation(merged.toMap, Nil)
  }

  /** DELETE FROM table WHERE cond: victims located by pushed-down scan on
    * the hidden addresses, tombstoned per pack.
    */
  def delete(spark: SparkSession, table: String, cond: Column): Unit = {
    ReplicaGuard.requireWritable(table, "delete")
    import spark.implicits._
    val bitmaps = withAddress(spark, table)
      .filter(coalesce(cond, lit(false)))
      .select(col("_pid"), col("_rid"))
      .as[(Long, Int)]
      .mapPartitions { it =>
        val acc = mutable.Map.empty[Long, mutable.BitSet]
        it.foreach { case (p, r) => acc.getOrElseUpdate(p, mutable.BitSet.empty) += r }
        acc.iterator.map { case (p, s) => (p, s.toBitMask) }
      }
      .collect()
    if (bitmaps.nonEmpty) {
      val merged = mutable.Map.empty[Long, BitSet]
      bitmaps.foreach { case (id, words) =>
        val bs = BitSet.fromBitMaskNoCopy(words)
        merged(id) = merged.get(id).map(_ | bs).getOrElse(bs)
      }
      GraftRowStore(table).applyMutation(merged.toMap, Nil)
    }
  }

  /** UPDATE table SET assignments WHERE cond: new row versions are
    * computed by the (codegen'd) scan+project and re-put; key and bucket
    * columns cannot be assigned (reference: PK columns are immutable).
    */
  def update(spark: SparkSession, table: String, cond: Column,
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
      .filter(coalesce(cond, lit(false)))
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

  /** DROP INDEX: clears the secondary-index metadata (memoized sorted
    * arrays are harmless to keep; they die with their packs).
    */
  def dropIndexes(table: String): Unit =
    GraftRowStore(table).mutate(_.copy(indexes = Map.empty))

  /** Durable checkpoint / restore of a row table — the row-side twin of
    * [[GraftStoreOps.checkpoint]]: snapshot-consistent parquet + layout
    * manifest; secondary indexes are recorded by COLUMN and rebuilt at
    * restore (their stats key the new pack ids).
    */
  def checkpoint(spark: SparkSession, table: String, dir: String): Unit = {
    val snap = GraftRowStore(table).snapshot
    read(spark, table).write.mode("overwrite").parquet(s"$dir/data")
    GraftManifest.write(spark, dir, Seq(
      "provider" -> "row",
      "partition_by" -> snap.bucketBy.mkString(","),
      "buckets" -> snap.numBuckets.toString,
      "key_columns" -> snap.keyColumns.mkString(","),
      "indexed" -> snap.indexes.values.map(_.column).toSeq.sorted.mkString(","),
      "eviction_budget_bytes" -> snap.evictionBudget.toString,
      "expire_seconds" -> snap.expireSeconds.toString),
      s"graftrow checkpoint of $table")
  }

  def restore(spark: SparkSession, table: String, dir: String): org.apache.spark.sql.DataFrame =
    restoreFrom(spark, table, GraftManifest.read(spark, dir),
      spark.read.parquet(s"$dir/data"))

  /** Re-hydrate `table` from an arbitrary row frame + a layout manifest —
    * the shared tail of checkpoint-dir restore and incremental-epoch
    * attach (where rows come from shared payload files, not `data/`).
    */
  def restoreFrom(spark: SparkSession, table: String,
      p: java.util.Properties, df: DataFrame): DataFrame = {
    GraftRowStore.drop(table)
    var w = df.write.format(FORMAT).option("table", table)
    Seq("partition_by", "buckets", "key_columns", "eviction_budget_bytes",
      "expire_seconds").foreach { k =>
      val v = p.getProperty(k, "")
      if (v.nonEmpty && !(k == "buckets" && v == "0")) w = w.option(k, v)
    }
    w.mode("overwrite").save()
    p.getProperty("indexed", "").split(",").filter(_.nonEmpty)
      .foreach(c => createIndex(spark, table, c))
    read(spark, table)
  }
}
