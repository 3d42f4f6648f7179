package org.apache.spark.sql.graft.store

import java.util
import java.util.OptionalLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.immutable.BitSet
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

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
  */
class GraftRowSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val name = options.get("table")
    GraftRowStore.get(name).map(_.schema)
      .getOrElse(throw new IllegalArgumentException(s"graftrow table not found: $name"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    GraftRowTable.fromOptions(properties.get("table"), schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

object GraftRowTable {
  val PACK_ID_COL = "_graft_pack_id"
  val ROW_IDX_COL = "_graft_row_idx"
  val PACK_SIZE = 32768

  def fromOptions(name: String, schema: StructType, props: Map[String, String]): GraftRowTable = {
    val base = BaseLayout.fromOptions("graftrow", GraftRowStore.get(name).map(_.snapshot), props)
    new GraftRowTable(name, schema, base.keyColumns, base.bucketBy, base.numBuckets,
      base.evictionBudget, base.expireSeconds)
  }
}

class GraftRowTable(tableName: String, tableSchema: StructType,
    keyColumns: Seq[String], bucketBy: Seq[String], numBuckets: Int,
    evictionBudget: Long = 0L, expireSeconds: Long = 0L)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns {
  import GraftRowTable._

  override def name(): String = s"graftrow.$tableName"
  override def schema(): StructType = tableSchema
  /** Layout for `DESCRIBE TABLE EXTENDED` (see the column-table analog). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    if (keyColumns.nonEmpty) m.put("key_columns", keyColumns.mkString(","))
    if (evictionBudget > 0) m.put("eviction_budget_bytes", evictionBudget.toString)
    if (expireSeconds > 0) m.put("expire_seconds", expireSeconds.toString)
    m
  }
  override def partitioning(): Array[Transform] =
    if (bucketBy.nonEmpty && numBuckets > 0)
      Array(Expressions.bucket(numBuckets, bucketBy: _*))
    else Array.empty
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = PACK_ID_COL
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
    },
    new MetadataColumn {
      override def name(): String = ROW_IDX_COL
      override def dataType(): DataType = IntegerType
      override def isNullable: Boolean = false
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowScanBuilder(tableName, tableSchema,
      // maintenance reads (incremental publish) address specific packs:
      // an explicit pack-id list prunes refs at planning — the row-store
      // analog of the column source's batch_ids option
      Option(options.get("pack_ids")).map(
        _.split(",").iterator.map(_.trim.toLong).toSet))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // same store-level replica refusal as the column source — see
    // GraftTable.newWriteBuilder
    ReplicaGuard.requireWritable(tableName, "write")
    new GraftRowWriteBuilder(tableName, info.schema(), keyColumns, bucketBy, numBuckets,
      evictionBudget, expireSeconds)
  }
}

// ------------------------------- read path -------------------------------

class GraftRowScanBuilder(tableName: String, fullSchema: StructType,
    packIds: Option[Set[Long]] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // index probes / bucket pruning only narrow the partitions; report
    // all filters as residual so Spark still evaluates them exactly
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    // top-level pruning only (see GraftColumnScanBuilder): packs hold
    // whole rows, and the projector reads stored values by full type
    required = StructType(requiredSchema.fields.map { f =>
      if (fullSchema.fieldNames.contains(f.name)) fullSchema(f.name) else f
    })
  override def build(): Scan =
    new GraftRowScan(tableName, fullSchema, required, pushed, packIds)
}

/** Work units: a bucket (or pack group) to scan, or a probe result. */
case class RowPackPartition(bucketId: Int, refs: Vector[GraftRowStore.PackRef],
    tombstones: Map[Long, BitSet]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}
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
    required: StructType, pushedFilters: Array[Filter],
    packIds: Option[Set[Long]] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsReportPartitioning {

  // snapshot + reader lease, captured atomically (see LeaseGc): packs
  // this scan references survive concurrent mutations until the last
  // partition reader closes
  private lazy val pinned: (GraftRowStore.RowSnapshot, Long) = {
    val t = GraftRowStore(tableName)
    val p = t.pinSnapshot()
    t.addLeaseOwner(p._2, this) // see the column-scan analog
    p
  }
  private def snapshot = pinned._1
  private def leaseId = pinned._2

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graftrow.$tableName pushed=[${pushedFilters.mkString(", ")}] cols=[${required.fieldNames.mkString(",")}]"

  /** Key combos from pushed EqualTo/In conjuncts pinning every key column
    * (converted to internal values); None unless the predicate is a full
    * primary-key lookup.
    */
  private def keyCombos: Option[Seq[GraftRowStore.RowKey]] = {
    val keyCols = snapshot.keyColumns
    if (keyCols.isEmpty) return None
    val eq = scala.collection.mutable.Map.empty[String, Seq[Any]]
    pushedFilters.foreach {
      case EqualTo(c, v) if v != null => eq(c) = Seq(v)
      case EqualNullSafe(c, v) if v != null => eq(c) = Seq(v)
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        eq(c) = eq.get(c).map(_.intersect(vs.toSeq)).getOrElse(vs.toSeq)
      case _ =>
    }
    if (!keyCols.forall(eq.contains)) return None
    val perCol = keyCols.map { c =>
      val dt = fullSchema.fields(fullSchema.fieldIndex(c)).dataType
      val internals = eq(c).flatMap(v => BatchPruning.internal(dt, v))
      if (internals.size != eq(c).size) return None
      internals
    }
    if (perCol.map(_.size.toLong).product > 256) return None
    Some(perCol.foldLeft(Seq(Seq.empty[Any])) { (acc, vals) =>
      acc.flatMap(prefix => vals.map(prefix :+ _))
    }.map(GraftRowStore.RowKey))
  }

  /** A bounded key lookup: a full-PK probe (one [[RowProbePartition]] of
    * rows planning already located) over the live table, not a
    * pack-addressed maintenance read. [[LocalLookups]] answers these on
    * the calling thread.
    */
  def isKeyLookup: Boolean = packIds.isEmpty && keyCombos.isDefined

  /** Buckets the pushed conjuncts allow, when they pin every bucket
    * column (same murmur3-seed-42 chain as the write distribution).
    */
  private def targetBuckets: Option[Set[Int]] =
    BucketRouting.targetBuckets(pushedFilters, snapshot.bucketBy,
      snapshot.numBuckets, fullSchema)

  /** Range constraint on a secondary-indexed column, assembled from the
    * pushed conjuncts (tightest lower/upper bound wins; IN collapses to
    * its envelope — the residual filter keeps exactness either way).
    * Yields to BUCKET pruning when the predicate pins the bucket columns:
    * that path prunes at least as hard AND keeps the bucket-grouped
    * output partitioning storage-partitioned joins rely on.
    */
  private def rangeProbe: Option[RowRangeSpec] = {
    if (snapshot.indexes.isEmpty) return None
    if (snapshot.numBuckets > 0 && targetBuckets.isDefined) return None
    snapshot.indexes.keys.toSeq.sorted.iterator.flatMap { key =>
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
        pushedFilters.foreach {
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

  override def planInputPartitions(): Array[InputPartition] = planPartitions()

  private def planPartitions(): Array[InputPartition] = {
    // EXPIRE: one TTL cut per planning — every path below (PK probe,
    // range scan, bucket scan, flat scan) sees the same live set.
    // An explicit pack-id list (maintenance dump) prunes first: the
    // incremental publish touches exactly the changed packs, never the
    // table
    val live = packIds match {
      case Some(ids) => snapshot.liveRefs.filter(r => ids(r.id))
      case None => snapshot.liveRefs
    }
    val combos = keyCombos
    if (combos.isDefined) {
      // full-PK lookup: probe pack indexes instead of scanning. When the
      // table is bucketed BY the key columns the probe touches only the
      // packs of the buckets the keys hash to (the routed get); in a
      // cluster this probe is an RPC to those bucket's hosts.
      val byBucket = live.groupBy(_.bucketId)
      val keyIsBucket = snapshot.bucketBy == snapshot.keyColumns &&
        snapshot.numBuckets > 0
      val ords = snapshot.keyOrdinals
      val kts = snapshot.keyTypes
      val keyed = combos.get.map { key =>
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
      return Array(RowProbePartition(addresses))
    }
    rangeProbe match {
      case Some(spec) =>
        // secondary-index range scan: stats prune whole packs at
        // planning (metadata only — pack payloads never leave their
        // executors), survivors get binary-searched task-side
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
        if (kept.isEmpty) return Array.empty
        val target = math.max(1, math.min(kept.size,
          org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism))
        return kept.grouped(math.max(1, (kept.size + target - 1) / target)).map { g =>
          RowRangePartition(g.toVector,
            snapshot.tombstones.filter(t => g.exists(_.id == t._1)),
            spec.column, spec.ordinal, spec.dt, spec.lo, spec.hi): InputPartition
        }.toArray
      case None =>
    }
    if (snapshot.numBuckets > 0) {
      val byBucket = live.groupBy(_.bucketId)
      val wanted = targetBuckets
      val ids = (0 until snapshot.numBuckets).filter(b => wanted.forall(_.contains(b)))
      ids.map { b =>
        val refs = byBucket.getOrElse(b, Vector.empty)
        GraftRowStore.packsScanned.addAndGet(refs.size)
        RowPackPartition(b, refs,
          snapshot.tombstones.filter(t => refs.exists(_.id == t._1))): InputPartition
      }.toArray
    } else {
      val refs = live
      GraftRowStore.packsScanned.addAndGet(refs.size)
      if (refs.isEmpty) return Array.empty
      val target = math.max(1, math.min(refs.size,
        org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism))
      refs.grouped(math.max(1, (refs.size + target - 1) / target)).map { g =>
        RowPackGroupPartition(g.toVector,
          snapshot.tombstones.filter(t => g.exists(_.id == t._1))): InputPartition
      }.toArray
    }
  }

  override def outputPartitioning(): Partitioning =
    if (snapshot.numBuckets > 0 && keyCombos.isEmpty && rangeProbe.isEmpty)
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(snapshot.numBuckets, snapshot.bucketBy: _*)),
        snapshot.numBuckets)
    else new UnknownPartitioning(1)

  override def estimateStatistics(): Statistics = new Statistics {
    // a full-PK probe matches AT MOST one row per key combo (keys are
    // unique by construction) — report that instead of the whole table,
    // so a point-lookup joined against anything plans as the broadcast
    // side (the column store's pruned stats, PERF_NOTES §20, applied to
    // the row store's strongest pruning path)
    private val probeRows: Option[Long] = keyCombos.map(_.size.toLong)
    override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(1L,
      probeRows.getOrElse(snapshot.rowCount) * fullSchema.defaultSize))
    override def numRows(): OptionalLong =
      OptionalLong.of(probeRows.getOrElse(snapshot.rowCount))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = new GraftRowReaderFactory(fullSchema, required, tableName, leaseId)
    GraftRowStore.get(tableName).foreach(_.addLeaseOwner(leaseId, f))
    f
  }
}

class GraftRowReaderFactory(fullSchema: StructType, required: StructType,
    tableName: String, leaseId: Long)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val srcOrdinals: Array[Int] = required.fields.map { f =>
      f.name match {
        case GraftRowTable.PACK_ID_COL => -1
        case GraftRowTable.ROW_IDX_COL => -2
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
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) row = it.next(); h }
      override def get(): InternalRow = row
      // reachability-driven release (LeaseGc) — see the column-source note
      override def close(): Unit = ()
    }
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

class GraftRowWriteBuilder(tableName: String, writeSchema: StructType,
    keyColumns: Seq[String], bucketBy: Seq[String], numBuckets: Int,
    evictionBudget: Long = 0L, expireSeconds: Long = 0L)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    // bucketed: cluster on the bucket columns so partition id == bucket
    // id; unbucketed-but-keyed: cluster on the keys so the per-task
    // duplicate check still sees every copy of a key
    override def requiredDistribution(): Distribution =
      if (bucketBy.nonEmpty && numBuckets > 0)
        Distributions.clustered(bucketBy.map(c => Expressions.column(c)).toArray)
      else if (keyColumns.nonEmpty)
        Distributions.clustered(keyColumns.map(c => Expressions.column(c)).toArray)
      else Distributions.unspecified()
    override def requiredNumPartitions(): Int =
      if (bucketBy.nonEmpty && numBuckets > 0) numBuckets else 0
    override def requiredOrdering(): Array[SortOrder] = Array.empty
    override def toBatch: BatchWrite =
      new GraftRowBatchWrite(tableName, writeSchema, keyColumns, bucketBy, numBuckets,
        doTruncate, evictionBudget, expireSeconds)
  }
}

class GraftRowBatchWrite(tableName: String, schema: StructType, keyColumns: Seq[String],
    bucketBy: Seq[String], numBuckets: Int, truncate: Boolean,
    evictionBudget: Long = 0L, expireSeconds: Long = 0L) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // append must respect the PK invariant against EXISTING rows: ship
    // the current refs (metadata) so writer tasks can probe pack indexes.
    // Refs and tombstones come from ONE pinned snapshot (not two racy
    // reads), and the pinned lease — owned by the factory, which stays
    // reachable for the write job's duration — keeps those packs
    // resolvable if a concurrent mutation retires them mid-write.
    val pinned =
      if (keyColumns.isEmpty || truncate) None
      else GraftRowStore.get(tableName).map { t =>
        val (snap, leaseId) = t.pinSnapshot(); (t, snap, leaseId)
      }
    val existing: Map[Int, Vector[GraftRowStore.PackRef]] =
      pinned.map(_._2.liveRefs.groupBy(_.bucketId).map { case (k, v) => k -> v })
        .getOrElse(Map.empty)
    val tomb: Map[Long, BitSet] =
      pinned.map(_._2.tombstones).getOrElse(Map.empty)
    val factory = new GraftRowWriterFactory(schema, keyColumns,
      bucketBy.nonEmpty && numBuckets > 0, existing, tomb)
    pinned.foreach { case (t, _, leaseId) => t.addLeaseOwner(leaseId, factory) }
    factory
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val table = GraftRowStore.getOrCreate(tableName, schema, keyColumns, bucketBy, numBuckets)
    // record the LRU-overflow budget as layout metadata (the swap also
    // runs the first enforcement pass)
    if (table.snapshot.evictionBudget != evictionBudget ||
        table.snapshot.expireSeconds != expireSeconds) {
      table.mutate(_.copy(evictionBudget = evictionBudget,
        expireSeconds = expireSeconds))
    }
    val newRefs = messages.flatMap {
      case GraftRowCommit(refs) => refs
      case _ => Nil
    }.toVector
    if (truncate)
      // ONE atomic swap (see the column-store commit): concurrent
      // planners see the full old or full new table, never an empty
      // intermediate; the write schema + layout ride the same swap (ALTER)
      table.replaceRefs(newRefs, _.copy(schema = schema, keyColumns = keyColumns,
        bucketBy = bucketBy, numBuckets = numBuckets))
    else table.appendRefs(newRefs)
    // EXPIRE: reclaim packs whose TTL passed (no-op without a TTL)
    table.expireSweep()
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftRowStore.packs.release(
      messages.flatMap { case GraftRowCommit(refs) => refs.map(_.id); case _ => Nil })
}

case class GraftRowCommit(refs: Seq[GraftRowStore.PackRef]) extends WriterCommitMessage

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
      private val buf = ArrayBuffer.empty[InternalRow]
      private val refs = ArrayBuffer.empty[GraftRowStore.PackRef]

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
        buf += row
        if (buf.length >= GraftRowTable.PACK_SIZE) seal()
      }

      private def seal(): Unit = if (buf.nonEmpty) {
        val pack = new GraftRowStore.RowPack(buf.toArray, keyOrds, keyTypes)
        refs += GraftRowStore.PackRef(GraftRowStore.packs.put(pack), bucketId,
          pack.numRows, createdAtMs = StoreClock.nowMs)
        buf.clear()
      }

      override def commit(): WriterCommitMessage = { seal(); GraftRowCommit(refs.toSeq) }
      override def abort(): Unit = {
        GraftRowStore.packs.release(refs.map(_.id))
        refs.clear()
        buf.clear()
      }
      override def close(): Unit = ()
    }
}
