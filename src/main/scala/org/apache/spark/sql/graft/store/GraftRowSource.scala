package org.apache.spark.sql.graft.store

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.immutable.BitSet

/** DataSource v2 front-end for [[GraftRowStore]] — the Spark-idiomatic
  * rebuild of the reference's row-table scan/write path (reference:
  * RowFormatRelation.scala:46, RowTableScan.scala:40, point lookups =
  * GemFire region get routed by the PK hash).
  *
  * Capabilities:
  *  - ROW read (no columnar decode — this is the row-oriented tier);
  *  - **index-probe point lookups**: when the pushed conjuncts pin every
  *    key column with EqualTo/In, planning probes the per-pack key
  *    indexes (bucket-routed when the table is bucketed by the keys) and
  *    emits a single partition holding just the matching row addresses —
  *    no scan task per bucket, the planner-side analog of the reference's
  *    routed get;
  *  - bucket pruning + bucket-grouped `KeyGroupedPartitioning`, so
  *    row⋈row and row⋈column joins on the shared bucket function plan as
  *    storage-partitioned joins without an Exchange;
  *  - bucketed writes via the same clustered-distribution contract as the
  *    column store (writer partition id == bucket id); keyed writes
  *    enforce the PRIMARY-KEY invariant (duplicate key ⇒ constraint
  *    violation — reference row-table INSERT semantics; PUT INTO is the
  *    upsert path, [[GraftRowOps.put]]);
  *  - hidden metadata columns `_graft_pack_id` / `_graft_row_idx` for
  *    addressed DML (see [[GraftRowOps]]);
  *  - commit messages carry [[GraftRowStore.PackRef]]s — ids + counts,
  *    never rows.
  * The table, its write and its commit are the shared [[StoreTable]].
  */
class GraftRowSource extends StoreSource(GraftRowOps)

object GraftRowTable {
  val PACK_ID_COL = "_graft_pack_id"
}

class GraftRowTable(tableName: String, tableSchema: StructType, base: BaseLayout)
    extends StoreTable[Unit](GraftRowOps, tableName, tableSchema, base, ()) {

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowScanBuilder(tableName, tableSchema,
      // maintenance reads (incremental publish) address specific packs:
      // an explicit pack-id list prunes refs at planning — the row-store
      // analog of the column source's batch_ids option
      Option(options.get("pack_ids")).map(
        _.split(",").iterator.map(_.trim.toLong).toSet))

  // unbucketed-but-keyed: cluster on the keys so the per-task duplicate
  // check still sees every copy of a key
  override private[store] def clusterBy: Seq[String] = base.keyColumns

  override private[store] def writerFactory(writeSchema: StructType,
      truncate: Boolean): DataWriterFactory = {
    // append must respect the PK invariant against EXISTING rows: ship
    // the current refs (metadata) so writer tasks can probe pack indexes.
    // Refs and tombstones come from ONE pinned snapshot (not two racy
    // reads), and the pinned lease — owned by the factory, which stays
    // reachable for the write job's duration — keeps those packs
    // resolvable if a concurrent mutation retires them mid-write.
    val pinned =
      if (base.keyColumns.isEmpty || truncate) None
      else GraftRowStore.get(tableName).map { t =>
        val (snap, leaseId) = t.pinSnapshot(); (t, snap, leaseId)
      }
    val existing: Map[Int, Vector[GraftRowStore.PackRef]] =
      pinned.map(_._2.liveRefs.groupBy(_.bucketId).map { case (k, v) => k -> v })
        .getOrElse(Map.empty)
    val tomb: Map[Long, BitSet] =
      pinned.map(_._2.tombstones).getOrElse(Map.empty)
    val factory = new GraftRowWriterFactory(writeSchema, base.keyColumns,
      base.bucketed, existing, tomb)
    pinned.foreach { case (t, _, leaseId) => t.addLeaseOwner(leaseId, factory) }
    factory
  }
}

// ------------------------------- read path -------------------------------

class GraftRowScanBuilder(tableName: String, fullSchema: StructType,
    packIds: Option[Set[Long]] = None) extends StoreScanBuilder(fullSchema) {
  override def build(): Scan =
    new GraftRowScan(tableName, fullSchema, required, pushed, packIds)
}

/** Work units: a bucket (or pack group) to scan, or a probe result. */
case class RowPackPartition(bucketId: Int, refs: Vector[GraftRowStore.PackRef],
    tombstones: Map[Long, BitSet]) extends BucketPartition
case class RowPackGroupPartition(refs: Vector[GraftRowStore.PackRef],
    tombstones: Map[Long, BitSet]) extends InputPartition
/** Already-resolved row addresses from a planning-time index probe. */
case class RowProbePartition(addresses: Seq[(Long, Int)]) extends InputPartition
/** Secondary-index range scan over stats-surviving packs: each task
  * binary-searches the pack's sorted-slot array and emits only the
  * matching contiguous slice. Bounds carry internal values;
  * `inc` = bound is inclusive.
  */
case class RowRangePartition(refs: Vector[GraftRowStore.PackRef],
    tombstones: Map[Long, BitSet], column: String, ordinal: Int, dt: DataType,
    lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]) extends InputPartition

/** Planning artifact of [[GraftRowScan.rangeProbe]]: the tightest range
  * on one indexed column plus the index's per-pack stats.
  */
case class RowRangeSpec(column: String, ordinal: Int, dt: DataType,
    lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)],
    stats: Map[Long, (Any, Any)])

class GraftRowScan(tableName: String, fullSchema: StructType,
    required: StructType, pushed: Array[Filter], packIds: Option[Set[Long]] = None)
    extends StoreScan[GraftRowStore.RowSnapshot, GraftRowStore.PackRef](
      GraftRowOps, tableName, fullSchema, required, pushed) {
  import GraftRowScan.MaxProbeKeys

  // runtime filters narrow only the buckets
  override protected def runtimeFilterColumns: Seq[String] =
    snapshot.bucketBy.filter(required.fieldNames.contains)

  /** Key combos the pushed conjuncts pin on every key column; None
    * unless the predicate is a full primary-key lookup.
    */
  private lazy val keyCombos: Option[Seq[GraftRowStore.RowKey]] =
    if (snapshot.keyColumns.isEmpty) None
    else BucketRouting.pinnedCombos(pushed, snapshot.keyColumns, fullSchema, MaxProbeKeys)
      .map(_.map(GraftRowStore.RowKey))

  /** A bounded key lookup: a full-PK probe (one [[RowProbePartition]] of
    * rows planning already located) over the live table, not a
    * pack-addressed maintenance read.
    */
  override protected def keyLookup: Boolean = packIds.isEmpty && keyCombos.isDefined

  /** Range constraint on a secondary-indexed column, assembled from the
    * pushed conjuncts (tightest lower/upper bound wins; IN collapses to
    * its envelope — the residual filter keeps exactness either way).
    * Yields to BUCKET pruning when the predicate pins the bucket columns:
    * that path prunes at least as hard AND keeps the bucket-grouped
    * output partitioning storage-partitioned joins rely on.
    */
  private lazy val rangeProbe: Option[RowRangeSpec] = {
    if (snapshot.indexes.isEmpty || pushedBuckets.isDefined) None
    else snapshot.indexes.keys.toSeq.sorted.iterator.flatMap { key =>
      val ix = snapshot.indexes(key)
      val idx = fullSchema.fieldNames.indexWhere(_.equalsIgnoreCase(ix.column))
      if (idx < 0) None
      else {
        val dt = fullSchema.fields(idx).dataType
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(dt)
        var lo: Option[(Any, Boolean)] = None
        var hi: Option[(Any, Boolean)] = None
        def low(v: Any, inc: Boolean): Unit =
          BatchPruning.internal(dt, v).foreach { iv =>
            lo = Some(lo match {
              case Some((cur, cinc)) =>
                val c = ord.compare(iv, cur)
                if (c > 0 || (c == 0 && !inc)) (iv, inc) else (cur, cinc)
              case None => (iv, inc)
            })
          }
        def high(v: Any, inc: Boolean): Unit =
          BatchPruning.internal(dt, v).foreach { iv =>
            hi = Some(hi match {
              case Some((cur, cinc)) =>
                val c = ord.compare(iv, cur)
                if (c < 0 || (c == 0 && !inc)) (iv, inc) else (cur, cinc)
              case None => (iv, inc)
            })
          }
        val c = ix.column
        pushed.foreach {
          case GreaterThan(n, v) if n.equalsIgnoreCase(c) && v != null => low(v, false)
          case GreaterThanOrEqual(n, v) if n.equalsIgnoreCase(c) && v != null => low(v, true)
          case LessThan(n, v) if n.equalsIgnoreCase(c) && v != null => high(v, false)
          case LessThanOrEqual(n, v) if n.equalsIgnoreCase(c) && v != null => high(v, true)
          case EqualTo(n, v) if n.equalsIgnoreCase(c) && v != null =>
            low(v, true); high(v, true)
          case In(n, vs) if n.equalsIgnoreCase(c) && vs.nonEmpty && !vs.contains(null) =>
            val ivs = vs.toSeq.flatMap(v => BatchPruning.internal(dt, v))
            if (ivs.size == vs.length) {
              low(ivs.reduce((a, b) => if (ord.compare(a, b) <= 0) a else b), true)
              high(ivs.reduce((a, b) => if (ord.compare(a, b) >= 0) a else b), true)
            }
          case _ =>
        }
        if (lo.isEmpty && hi.isEmpty) None
        else Some(RowRangeSpec(ix.column, idx, dt, lo, hi, ix.packRange))
      }
    }.nextOption()
  }

  override protected def bucketGrouped: Boolean = keyCombos.isEmpty && rangeProbe.isEmpty

  override def planInputPartitions(): Array[InputPartition] = {
    // EXPIRE: one TTL cut per planning — every path below (PK probe,
    // range scan, bucket scan, flat scan) sees the same live set.
    // An explicit pack-id list (maintenance dump) prunes first: the
    // incremental publish touches exactly the changed packs, never the
    // table
    val live = packIds match {
      case Some(ids) => snapshot.liveRefs.filter(r => ids(r.id))
      case None => snapshot.liveRefs
    }
    (keyCombos, rangeProbe) match {
      case (Some(combos), _) => Array(probePartition(live, combos))
      case (_, Some(spec)) => rangePartitions(live, spec)
      case _ if snapshot.numBuckets > 0 =>
        bucketPartitions(live, (r: GraftRowStore.PackRef) => r.bucketId) { (b, refs) =>
          GraftRowStore.packsScanned.addAndGet(refs.size)
          RowPackPartition(b, refs.toVector, tombstonesOf(refs))
        }
      case _ =>
        GraftRowStore.packsScanned.addAndGet(live.size)
        grouped(live)(g => RowPackGroupPartition(g.toVector, tombstonesOf(g)))
    }
  }

  private def tombstonesOf(refs: Seq[GraftRowStore.PackRef]): Map[Long, BitSet] =
    snapshot.tombstones.filter(t => refs.exists(_.id == t._1))

  /** Full-PK lookup: probe pack indexes instead of scanning. When the
    * table is bucketed BY the key columns the probe touches only the
    * packs of the buckets the keys hash to (the routed get); in a
    * cluster this probe is an RPC to those bucket's hosts.
    */
  private def probePartition(live: Vector[GraftRowStore.PackRef],
      combos: Seq[GraftRowStore.RowKey]): RowProbePartition = {
    val byBucket = live.groupBy(_.bucketId)
    val keyIsBucket = snapshot.bucketBy == snapshot.keyColumns &&
      snapshot.numBuckets > 0
    val kts = snapshot.keyTypes
    val keyed = combos.map { key =>
      key -> (if (keyIsBucket)
        byBucket.getOrElse(
          BucketRouting.bucketOf(key.values, kts, snapshot.numBuckets),
          Vector.empty)
      else live)
    }
    // each candidate pack fetched once across ALL keys (a spilled pack
    // would otherwise deserialize per key)
    val resolved = GraftRowStore.packs.resolve(
      keyed.flatMap(_._2.map(_.id)).distinct)
    val addresses = keyed.flatMap { case (key, candidates) =>
      GraftRowStore.indexProbes.incrementAndGet()
      snapshot.probe(key, candidates, resolved)
    }
    RowProbePartition(addresses)
  }

  /** Secondary-index range scan: stats prune whole packs at planning
    * (metadata only — pack payloads never leave their executors),
    * survivors get binary-searched task-side.
    */
  private def rangePartitions(live: Vector[GraftRowStore.PackRef],
      spec: RowRangeSpec): Array[InputPartition] = {
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(spec.dt)
    val kept = live.filter { r =>
      spec.stats.get(r.id) match {
        case Some((mn, mx)) =>
          val okLo = spec.lo.forall { case (v, inc) =>
            val c = ord.compare(mx, v); c > 0 || (c == 0 && inc)
          }
          val okHi = spec.hi.forall { case (v, inc) =>
            val c = ord.compare(mn, v); c < 0 || (c == 0 && inc)
          }
          okLo && okHi
        case None => true // packs appended after the index build
      }
    }
    GraftRowStore.rangePacksPruned.addAndGet(live.size - kept.size)
    GraftRowStore.rangePacksProbed.addAndGet(kept.size)
    grouped(kept) { g =>
      RowRangePartition(g.toVector, tombstonesOf(g),
        spec.column, spec.ordinal, spec.dt, spec.lo, spec.hi)
    }
  }

  // a full-PK probe matches AT MOST one row per key combo (keys are
  // unique by construction) — report that instead of the whole table,
  // so a point-lookup joined against anything plans as the broadcast
  // side (the column store's pruned stats, PERF_NOTES §20, applied to
  // the row store's strongest pruning path)
  override def estimateStatistics(): Statistics = {
    val rows = keyCombos.map(_.size.toLong).getOrElse(snapshot.rowCount)
    StoreScan.statistics(rows, rows * fullSchema.defaultSize)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    leased(new GraftRowReaderFactory(fullSchema, required))
}

object GraftRowScan {
  /** Most key combinations a full-PK probe looks up at planning. */
  val MaxProbeKeys = 256
}

class GraftRowReaderFactory(fullSchema: StructType, required: StructType)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val srcOrdinals: Array[Int] = required.fields.map { f =>
      f.name match {
        case GraftRowTable.PACK_ID_COL => -1
        case StoreTable.ROW_IDX_COL => -2
        case n => fullSchema.fieldIndex(n)
      }
    }
    val srcTypes: Array[DataType] = required.fields.map(_.dataType)

    def project(packId: Long, slot: Int, row: InternalRow): InternalRow = {
      val out = new Array[Any](srcOrdinals.length)
      var i = 0
      while (i < srcOrdinals.length) {
        out(i) = srcOrdinals(i) match {
          case -1 => packId
          case -2 => slot
          case o => row.get(o, srcTypes(i))
        }
        i += 1
      }
      new GenericInternalRow(out)
    }

    val it: Iterator[InternalRow] = partition match {
      case RowProbePartition(addresses) =>
        // distinct packs fetched once (spilled packs deserialize per
        // fetch, and one pack commonly serves many addresses)
        val probePacks = GraftRowStore.packs.resolve(addresses.map(_._1).distinct)
        addresses.iterator.map { case (packId, slot) =>
          project(packId, slot, probePacks(packId).rows(slot))
        }
      case p: RowPackPartition => packIterator(p.refs, p.tombstones, project)
      case p: RowPackGroupPartition => packIterator(p.refs, p.tombstones, project)
      case p: RowRangePartition =>
        // binary search the pack's sorted-slot array: emit only the
        // contiguous matching slice (residual filters re-check exactly)
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(p.dt)
        p.refs.iterator.flatMap { ref =>
          val rows = GraftRowStore.packs(ref.id).rows
          // rows passed through so a sorted-slot cache miss does not
          // deserialize the same (possibly spilled) pack a second time
          val (slots, nonNull) = GraftRowStore.SortedSlotRegistry
            .sortedSlots(ref.id, p.column, p.ordinal, p.dt, Some(rows))
          def valueAt(i: Int): Any = rows(slots(i)).get(p.ordinal, p.dt)
          var start = 0
          p.lo.foreach { case (v, inc) =>
            var a = 0; var b = nonNull
            while (a < b) {
              val m = (a + b) >>> 1
              val c = ord.compare(valueAt(m), v)
              if (c < 0 || (c == 0 && !inc)) a = m + 1 else b = m
            }
            start = a
          }
          var end = nonNull
          p.hi.foreach { case (v, inc) =>
            var a = start; var b = nonNull
            while (a < b) {
              val m = (a + b) >>> 1
              val c = ord.compare(valueAt(m), v)
              if (c < 0 || (c == 0 && inc)) a = m + 1 else b = m
            }
            end = a
          }
          val dead = p.tombstones.getOrElse(ref.id, BitSet.empty)
          Iterator.range(start, end).map(slots(_)).filterNot(dead.contains)
            .map(slot => project(ref.id, slot, rows(slot)))
        }
    }
    new IteratorReader(it)
  }

  private def packIterator(refs: Vector[GraftRowStore.PackRef],
      tombstones: Map[Long, BitSet],
      project: (Long, Int, InternalRow) => InternalRow): Iterator[InternalRow] =
    refs.iterator.flatMap { ref =>
      val pack = GraftRowStore.packs(ref.id)
      val dead = tombstones.getOrElse(ref.id, BitSet.empty)
      Iterator.range(0, pack.numRows)
        .filterNot(dead.contains)
        .map(slot => project(ref.id, slot, pack.rows(slot)))
    }
}

// ------------------------------- write path ------------------------------

class GraftRowWriterFactory(schema: StructType, keyColumns: Seq[String], bucketed: Boolean,
    existing: Map[Int, Vector[GraftRowStore.PackRef]],
    existingTombstones: Map[Long, BitSet]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val bucketId = if (bucketed) partitionId else -1
      private val keyOrds = keyColumns.map(schema.fieldIndex).toArray
      private val keyTypes = keyOrds.map(schema.fields(_).dataType)
      private val seen = new java.util.HashSet[GraftRowStore.RowKey]()
      // existing packs this task's rows could collide with: its bucket
      // when bucketed, every pack otherwise (keys were clustered, so all
      // copies of a key land in this task either way)
      private val collidable: Vector[GraftRowStore.PackRef] =
        if (keyOrds.isEmpty) Vector.empty
        else if (bucketed) existing.getOrElse(bucketId, Vector.empty)
        else existing.values.flatten.toVector
      // packs resolved ONCE per writer task: a spilled pack deserializes
      // from disk on every fetch, so the per-record
      // PK-collision probe must not fetch per row
      private lazy val collidablePacks: Vector[(Long, GraftRowStore.RowPack)] =
        collidable.map(r => r.id -> GraftRowStore.packs(r.id))
      private val sealer = new GraftRowStore.PackSealer(keyOrds, keyTypes, bucketId)

      override def write(record: InternalRow): Unit = {
        val row = record.copy()
        if (keyOrds.nonEmpty) {
          val key = GraftRowStore.keyOf(row, keyOrds, keyTypes)
          if (!seen.add(key))
            throw new IllegalStateException(
              s"graftrow: duplicate primary key in insert batch: ${key.values.mkString(",")}")
          collidablePacks.foreach { case (id, pack) =>
            val slot = pack.index.get(key)
            if (slot != null &&
                !existingTombstones.get(id).exists(_.contains(slot.intValue())))
              throw new IllegalStateException(
                s"graftrow: primary key already exists: ${key.values.mkString(",")} (use PUT INTO to upsert)")
          }
        }
        sealer.add(row)
      }

      override def commit(): WriterCommitMessage = StoreCommit(sealer.result())
      override def abort(): Unit = sealer.abort()
      override def close(): Unit = ()
    }
}
