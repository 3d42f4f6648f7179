package org.apache.spark.sql.graft.store

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._

import scala.collection.immutable.BitSet

/** Aggregate pushdown into the graftstore scan — the Spark-idiomatic
  * rebuild of the reference's dictionary-optimized aggregation
  * (DictionaryOptimizedMapAccessor.scala:26-50 groups on dictionary ids
  * instead of hashing strings) and stats-served aggregates, expressed
  * through DSv2 `SupportsPushDownAggregates` (PARTIAL pushdown: the scan
  * emits per-partition partial rows, Spark plans the final merge).
  *
  * What the scan serves without materializing rows:
  *  - `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)` on clean
  *    batches — straight from the per-batch refs + min/max/null stats,
  *    O(1) per batch, payloads untouched;
  *  - `SUM` — one pass over the encoded column (run-length sums as
  *    value × runLength, dictionary as value × code-count);
  *  - `GROUP BY` on a dictionary-encoded column — per-batch
  *    CODE-INDEXED accumulator arrays (integer indexing, no per-row
  *    string hashing), merged into the partition map once per distinct
  *    value per batch;
  *  - anything else falls back to a per-batch decoded loop, which still
  *    beats the un-pushed plan: rows never materialize into vectors and
  *    only group-sized partials reach the shuffle.
  *
  * Measured (PERF_NOTES §50, 10M rows, local[32], interleaved
  * A/B): dict groupBy(7 values) count+sum 1.48× over the un-pushed
  * plan, groupBy(1000) 1.19×, stats-served global count/min/max at
  * parity at this scale (both planning-bound at ~0.13 s; the pushed
  * path reads O(batches) stats where the un-pushed one scans O(rows),
  * so the gap widens with table size). The interpreted generic loop
  * only reached parity with whole-stage codegen — the kernels are what
  * make the dictionary path win.
  *
  * Correctness notes: batches carrying delete bitmaps or update deltas
  * take the decoded path with the merge applied (no snapshot-clean gate
  * needed); Spark only pushes aggregates when every filter was consumed
  * exactly, and this source always reports filters as residual, so a
  * WHERE clause blocks pushdown by construction. DISTINCT, AVG (Spark
  * rewrites it to SUM/COUNT only for complete pushdown), decimal sums
  * and float/double group keys (engine-side NaN/-0.0 normalization) are
  * rejected → Spark keeps its own aggregation.
  */
object GraftAggPushdown {
  val CONF_KEY = "spark.sql.graft.aggPushdown"

  sealed trait AggOp extends Serializable
  case object CountStarOp extends AggOp
  final case class CountOp(col: Int) extends AggOp
  final case class MinOp(col: Int, dt: DataType) extends AggOp
  final case class MaxOp(col: Int, dt: DataType) extends AggOp
  final case class SumLongOp(col: Int) extends AggOp
  final case class SumDoubleOp(col: Int) extends AggOp

  final case class AggSpec(groupCols: Array[Int], ops: Array[AggOp],
      schema: StructType, ansi: Boolean) extends Serializable

  private def orderableKey(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         StringType | DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false // float/double keys need NaN/-0.0 normalization
  }

  private def orderableMinMax(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | StringType | DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  def translate(agg: Aggregation, schema: StructType,
      ansi: Boolean): Option[AggSpec] = {
    def colIdx(e: VExpression): Option[Int] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(nr.fieldNames()(0)))
        if (i >= 0) Some(i) else None
      case _ => None
    }
    val groups = agg.groupByExpressions().map(colIdx)
    if (groups.exists(_.isEmpty)) return None
    val groupCols = groups.map(_.get)
    if (!groupCols.forall(i => orderableKey(schema.fields(i).dataType))) return None

    val ops = agg.aggregateExpressions().map {
      case _: CountStar => Some(CountStarOp)
      case c: Count if !c.isDistinct =>
        colIdx(c.column).map(CountOp)
      case m: Min =>
        colIdx(m.column).filter(i => orderableMinMax(schema.fields(i).dataType))
          .map(i => MinOp(i, schema.fields(i).dataType))
      case m: Max =>
        colIdx(m.column).filter(i => orderableMinMax(schema.fields(i).dataType))
          .map(i => MaxOp(i, schema.fields(i).dataType))
      case s: Sum if !s.isDistinct =>
        colIdx(s.column).flatMap { i =>
          schema.fields(i).dataType match {
            case ByteType | ShortType | IntegerType | LongType => Some(SumLongOp(i))
            case FloatType | DoubleType => Some(SumDoubleOp(i))
            case _ => None // decimal sum precision semantics stay with Spark
          }
        }
      case _ => None
    }
    if (ops.exists(_.isEmpty)) return None

    val fields =
      groupCols.map(i => schema.fields(i).copy(nullable = true)) ++
        ops.map(_.get).zipWithIndex.map {
          case (CountStarOp, k) => StructField(s"agg_$k", LongType)
          case (CountOp(_), k) => StructField(s"agg_$k", LongType)
          case (MinOp(_, dt), k) => StructField(s"agg_$k", dt)
          case (MaxOp(_, dt), k) => StructField(s"agg_$k", dt)
          case (SumLongOp(_), k) => StructField(s"agg_$k", LongType)
          case (SumDoubleOp(_), k) => StructField(s"agg_$k", DoubleType)
        }
    Some(AggSpec(groupCols, ops.map(_.get), StructType(fields), ansi))
  }
}

case class GraftAggPartition(works: Vector[BatchWork]) extends InputPartition

class GraftAggScan(tableName: String, fullSchema: StructType,
    spec: GraftAggPushdown.AggSpec) extends Scan with Batch {

  private lazy val pinned: (GraftColumnStore.TableSnapshot, Long) = {
    val t = GraftColumnStore(tableName)
    val p = t.pinSnapshot()
    t.addLeaseOwner(p._2, this)
    p
  }
  private def snapshot = pinned._1
  private def leaseId = pinned._2

  override def readSchema(): StructType = spec.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graftstore.$tableName PushedAggregation=[groups=${spec.groupCols.mkString(",")} " +
      s"ops=${spec.ops.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val works = snapshot.liveRefs.map(r => BatchWork(r, snapshot.deletes.get(r.id),
      snapshot.updates.getOrElse(r.id, Map.empty)))
    val target = math.max(1, math.min(works.size,
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism))
    val parts: Array[InputPartition] =
      if (works.isEmpty) {
        // a GLOBAL aggregate must still produce its one partial row
        // (count 0, sums/mins null) even over an empty table
        if (spec.groupCols.isEmpty) Array(GraftAggPartition(Vector.empty))
        else Array.empty
      } else {
        works.grouped(math.max(1, (works.size + target - 1) / target))
          .map(ws => GraftAggPartition(ws.toVector): InputPartition).toArray
      }
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = new GraftAggReaderFactory(fullSchema, spec, tableName, leaseId)
    GraftColumnStore.get(tableName).foreach(_.addLeaseOwner(leaseId, f))
    f
  }
}

class GraftAggReaderFactory(fullSchema: StructType,
    spec: GraftAggPushdown.AggSpec, tableName: String, leaseId: Long)
    extends PartitionReaderFactory {
  import GraftAggPushdown._
  import GraftColumnStore._

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val works = partition.asInstanceOf[GraftAggPartition].works
    val rows = aggregate(works).iterator
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) row = rows.next(); h }
      override def get(): InternalRow = row
      // reachability-driven release (LeaseGc) — see the column-source note
      override def close(): Unit = ()
    }
  }

  // ---- accumulators -------------------------------------------------

  private val nOps = spec.ops.length
  private val orderings: Array[Ordering[Any]] = spec.ops.map {
    case MinOp(_, dt) => TypeUtils.getInterpretedOrdering(dt)
    case MaxOp(_, dt) => TypeUtils.getInterpretedOrdering(dt)
    case _ => null
  }

  private final class Accs {
    val counts = new Array[Long](nOps)
    val longs = new Array[Long](nOps)
    val doubles = new Array[Double](nOps)
    val anys = new Array[Any](nOps)
    val seen = new Array[Boolean](nOps)

    def addCount(k: Int, n: Long): Unit = counts(k) += n
    def addLong(k: Int, v: Long): Unit = {
      longs(k) = if (spec.ansi) Math.addExact(longs(k), v) else longs(k) + v
      seen(k) = true
    }
    def addDouble(k: Int, v: Double): Unit = { doubles(k) += v; seen(k) = true }
    def challengeMin(k: Int, v: Any): Unit =
      if (v != null && (!seen(k) || orderings(k).compare(v, anys(k)) < 0)) {
        anys(k) = v; seen(k) = true
      }
    def challengeMax(k: Int, v: Any): Unit =
      if (v != null && (!seen(k) || orderings(k).compare(v, anys(k)) > 0)) {
        anys(k) = v; seen(k) = true
      }

    def values: Array[Any] = spec.ops.zipWithIndex.map {
      case (CountStarOp, k) => java.lang.Long.valueOf(counts(k))
      case (CountOp(_), k) => java.lang.Long.valueOf(counts(k))
      case (SumLongOp(_), k) => if (seen(k)) java.lang.Long.valueOf(longs(k)) else null
      case (SumDoubleOp(_), k) => if (seen(k)) java.lang.Double.valueOf(doubles(k)) else null
      case (MinOp(_, _), k) => if (seen(k)) anys(k) else null
      case (MaxOp(_, _), k) => if (seen(k)) anys(k) else null
    }
  }

  /** Typed view over an encoded column (no boxing for primitives). */
  private trait ColAcc {
    def isNull(i: Int): Boolean
    def longAt(i: Int): Long
    def dblAt(i: Int): Double
    def anyAt(i: Int): Any
  }

  private def accessor(cd: ColumnData): ColAcc = cd match {
    case LongColumn(v, nulls) => new ColAcc {
      def isNull(i: Int): Boolean = nulls(i)
      def longAt(i: Int): Long = v(i)
      def dblAt(i: Int): Double = v(i).toDouble
      def anyAt(i: Int): Any = if (nulls(i)) null else java.lang.Long.valueOf(v(i))
    }
    case IntColumn(v, nulls) => new ColAcc {
      def isNull(i: Int): Boolean = nulls(i)
      def longAt(i: Int): Long = v(i).toLong
      def dblAt(i: Int): Double = v(i).toDouble
      def anyAt(i: Int): Any = if (nulls(i)) null else java.lang.Integer.valueOf(v(i))
    }
    case DoubleColumn(v, nulls) => new ColAcc {
      def isNull(i: Int): Boolean = nulls(i)
      def longAt(i: Int): Long = v(i).toLong
      def dblAt(i: Int): Double = v(i)
      def anyAt(i: Int): Any = if (nulls(i)) null else java.lang.Double.valueOf(v(i))
    }
    case other =>
      val a = other.toArray
      new ColAcc {
        def isNull(i: Int): Boolean = a(i) == null
        def longAt(i: Int): Long = a(i).asInstanceOf[Number].longValue()
        def dblAt(i: Int): Double = a(i).asInstanceOf[Number].doubleValue()
        def anyAt(i: Int): Any = a(i)
      }
  }

  /** Column values with any update deltas merged (boxed path). */
  private def mergedColumn(w: BatchWork, batch: StoreBatch, col: Int): ColumnData = {
    val updates = w.updates.getOrElse(col, Vector.empty)
    if (updates.isEmpty) batch.columns(col).materialized
    else {
      val vals = batch.columns(col).toArray
      updates.foreach { dref =>
        val d = BatchRegistry.delta(dref.deltaId)
        var k = 0
        while (k < d.rows.length) { vals(d.rows(k)) = d.values(k); k += 1 }
      }
      PlainColumn(vals)
    }
  }

  // ---- the aggregation ----------------------------------------------

  private def aggregate(works: Vector[BatchWork]): Seq[InternalRow] =
    if (spec.groupCols.isEmpty) aggregateGlobal(works)
    else aggregateGrouped(works)

  private def aggregateGlobal(works: Vector[BatchWork]): Seq[InternalRow] = {
    val acc = new Accs
    works.foreach { w =>
      val clean = w.deletes.isEmpty && w.updates.isEmpty
      if (clean) {
        // per-op split: stats-servable ops cost O(1) per batch (refs +
        // stats, payload untouched); only the rest loop — a global SUM
        // no longer drags COUNT/MIN/MAX through the row loop
        val loopOps = spec.ops.zipWithIndex.filterNot {
          case (CountStarOp, k) => acc.addCount(k, w.ref.numRows); true
          case (CountOp(c), k) =>
            acc.addCount(k, w.ref.numRows - w.ref.stats(c).nullCount); true
          case (MinOp(c, _), k)
              if w.ref.stats(c).min != null ||
                w.ref.numRows == w.ref.stats(c).nullCount =>
            acc.challengeMin(k, w.ref.stats(c).min); true
          case (MaxOp(c, _), k)
              if w.ref.stats(c).max != null ||
                w.ref.numRows == w.ref.stats(c).nullCount =>
            acc.challengeMax(k, w.ref.stats(c).max); true
          // integer SUM from the seal-time batch sum. Available only
          // when the batch's own sum did not overflow (else the stat is
          // null and the row loop reproduces Spark's per-value overflow
          // behavior); cross-batch accumulation goes through addLong,
          // which addExact-checks under ANSI. Like Spark's own JDBC SUM
          // pushdown, the pushed evaluation order is batch-wise.
          case (SumLongOp(c), k) if w.ref.stats(c).longSum != null =>
            acc.addLong(k, w.ref.stats(c).longSum); true
          case (SumLongOp(c), k) if w.ref.numRows == w.ref.stats(c).nullCount =>
            true // all-null batch contributes nothing
          case _ => false
        }
        if (loopOps.nonEmpty) accumulateLoop(w, acc, loopOps)
      } else accumulateLoop(w, acc, spec.ops.zipWithIndex)
    }
    Seq(new GenericInternalRow(acc.values))
  }

  /** Loop over one batch into `acc` for the given ops (deletes skipped,
    * deltas merged). Clean primitive sums take a raw array loop; the
    * rest read through unboxed accessors.
    */
  private def accumulateLoop(w: BatchWork, acc: Accs,
      ops: Array[(AggOp, Int)]): Unit = {
    val batch = batches(w.ref.id)
    val n = w.ref.numRows
    val dels = w.deletes.map(_.bitset).getOrElse(BitSet.empty)
    // memoized per column: on batches carrying update deltas the merge
    // materializes the full column — without the cache an op probed here
    // and rejected would re-merge the same column again below
    val mergedCache = scala.collection.mutable.Map.empty[Int, ColumnData]
    def merged(c: Int): ColumnData =
      mergedCache.getOrElseUpdate(c, mergedColumn(w, batch, c))
    val remaining = ops.filterNot { case (op, k) =>
      if (dels.isEmpty) {
        (op, opCol(op).map(merged).orNull) match {
          case (SumDoubleOp(_), DoubleColumn(v, nulls)) =>
            val noNulls = nulls.isEmpty
            var s = 0.0
            var any = false
            var i = 0
            while (i < n) {
              if (noNulls || !nulls(i)) { s += v(i); any = true }
              i += 1
            }
            if (any) acc.addDouble(k, s)
            true
          case (SumLongOp(_), LongColumn(v, nulls)) =>
            val noNulls = nulls.isEmpty
            var s = 0L
            var any = false
            var i = 0
            while (i < n) {
              if (noNulls || !nulls(i)) {
                s = if (spec.ansi) Math.addExact(s, v(i)) else s + v(i)
                any = true
              }
              i += 1
            }
            if (any) acc.addLong(k, s)
            true
          case _ => false
        }
      } else false
    }
    if (remaining.isEmpty) return
    val accs = remaining.map { case (op, _) =>
      opCol(op).map(c => accessor(merged(c))).orNull
    }
    var i = 0
    while (i < n) {
      if (!dels(i)) {
        var j = 0
        while (j < remaining.length) {
          val (op, k) = remaining(j)
          val ca = accs(j)
          op match {
            case CountStarOp => acc.addCount(k, 1)
            case CountOp(_) => if (!ca.isNull(i)) acc.addCount(k, 1)
            case SumLongOp(_) => if (!ca.isNull(i)) acc.addLong(k, ca.longAt(i))
            case SumDoubleOp(_) => if (!ca.isNull(i)) acc.addDouble(k, ca.dblAt(i))
            case MinOp(_, _) => acc.challengeMin(k, ca.anyAt(i))
            case MaxOp(_, _) => acc.challengeMax(k, ca.anyAt(i))
          }
          j += 1
        }
      }
      i += 1
    }
  }

  private def opCol(op: AggOp): Option[Int] = op match {
    case CountStarOp => None
    case CountOp(c) => Some(c)
    case MinOp(c, _) => Some(c)
    case MaxOp(c, _) => Some(c)
    case SumLongOp(c) => Some(c)
    case SumDoubleOp(c) => Some(c)
  }

  private def aggregateGrouped(works: Vector[BatchWork]): Seq[InternalRow] = {
    val map = new java.util.HashMap[Any, Accs]()
    val singleGroup = spec.groupCols.length == 1

    works.foreach { w =>
      val batch = batches(w.ref.id)
      val n = w.ref.numRows
      val dels = w.deletes.map(_.bitset).getOrElse(BitSet.empty)
      val groupData = spec.groupCols.map(c => mergedColumn(w, batch, c))

      groupData match {
        case Array(dc: DictColumn) if dels.isEmpty =>
          // THE dictionary fast path: per-batch code-indexed accumulator
          // arrays driven by monomorphic primitive kernels (integer slot
          // indexing, no per-row string hashing, no boxing on the count/
          // sum hot path); one map probe per DISTINCT code per batch
          GraftColumnStore.aggDictBatches.incrementAndGet()
          val codes = dc.codes
          val kSlots = dc.dict.length + 1 // last slot = null key
          val kernels: Array[DictKernel] = spec.ops.zipWithIndex.map {
            case (CountStarOp, _) => new CountStarKernel(kSlots)
            case (CountOp(c), _) =>
              new CountKernel(kSlots, accessor(mergedColumn(w, batch, c)))
            case (SumLongOp(c), _) =>
              new SumLongKernel(kSlots, accessor(mergedColumn(w, batch, c)), spec.ansi)
            case (SumDoubleOp(c), _) =>
              mergedColumn(w, batch, c) match {
                case DoubleColumn(v, nulls) => new SumDoubleRawKernel(kSlots, v, nulls)
                case other => new SumDoubleKernel(kSlots, accessor(other))
              }
            case (MinOp(c, _), k) =>
              new MinMaxKernel(kSlots, accessor(mergedColumn(w, batch, c)),
                orderings(k), isMin = true)
            case (MaxOp(c, _), k) =>
              new MinMaxKernel(kSlots, accessor(mergedColumn(w, batch, c)),
                orderings(k), isMin = false)
          }
          val rows = new Array[Int](kSlots)
          val nk = kernels.length
          var i = 0
          while (i < n) {
            val c = codes(i)
            val slot = if (c < 0) kSlots - 1 else c
            rows(slot) += 1
            var k = 0
            while (k < nk) { kernels(k).step(slot, i); k += 1 }
            i += 1
          }
          var slot = 0
          while (slot < kSlots) {
            if (rows(slot) > 0) {
              val key = if (slot == kSlots - 1) null else dc.dict(slot)
              var a = map.get(key)
              if (a == null) { a = new Accs; map.put(key, a) }
              var k = 0
              while (k < nk) { kernels(k).merge(slot, a, k); k += 1 }
            }
            slot += 1
          }

        case gd =>
          val gAccs = gd.map(accessor)
          val inAccs = spec.ops.map(op => opCol(op).map(c =>
            accessor(mergedColumn(w, batch, c))).orNull)
          var i = 0
          while (i < n) {
            if (!dels(i)) {
              val key: Any =
                if (singleGroup) gAccs(0).anyAt(i)
                else scala.collection.immutable.ArraySeq.unsafeWrapArray(
                  gAccs.map(_.anyAt(i)))
              var a = map.get(key)
              if (a == null) { a = new Accs; map.put(key, a) }
              var k = 0
              while (k < nOps) {
                spec.ops(k) match {
                  case CountStarOp => a.addCount(k, 1)
                  case CountOp(_) => if (!inAccs(k).isNull(i)) a.addCount(k, 1)
                  case SumLongOp(_) =>
                    if (!inAccs(k).isNull(i)) a.addLong(k, inAccs(k).longAt(i))
                  case SumDoubleOp(_) =>
                    if (!inAccs(k).isNull(i)) a.addDouble(k, inAccs(k).dblAt(i))
                  case MinOp(_, _) => a.challengeMin(k, inAccs(k).anyAt(i))
                  case MaxOp(_, _) => a.challengeMax(k, inAccs(k).anyAt(i))
                }
                k += 1
              }
            }
            i += 1
          }
      }
    }

    val out = Vector.newBuilder[InternalRow]
    map.forEach { (key, a) =>
      val groupVals: Array[Any] =
        if (singleGroup) Array(key)
        else key.asInstanceOf[scala.collection.immutable.ArraySeq[Any]].toArray
      out += new GenericInternalRow(groupVals ++ a.values)
    }
    out.result()
  }

  // ---- dictionary-path kernels (monomorphic per-op inner loops) ------

  private abstract class DictKernel {
    /** Accumulate row `i` into group `slot` (hot loop). */
    def step(slot: Int, i: Int): Unit
    /** Fold this batch's slot into the partition accumulator at op `k`. */
    def merge(slot: Int, a: Accs, k: Int): Unit
  }

  private final class CountStarKernel(s: Int) extends DictKernel {
    private val counts = new Array[Long](s)
    def step(slot: Int, i: Int): Unit = counts(slot) += 1
    def merge(slot: Int, a: Accs, k: Int): Unit = a.addCount(k, counts(slot))
  }

  private final class CountKernel(s: Int, in: ColAcc) extends DictKernel {
    private val counts = new Array[Long](s)
    def step(slot: Int, i: Int): Unit = if (!in.isNull(i)) counts(slot) += 1
    def merge(slot: Int, a: Accs, k: Int): Unit = a.addCount(k, counts(slot))
  }

  private final class SumLongKernel(s: Int, in: ColAcc, ansi: Boolean)
      extends DictKernel {
    private val sums = new Array[Long](s)
    private val seen = new Array[Boolean](s)
    def step(slot: Int, i: Int): Unit = if (!in.isNull(i)) {
      sums(slot) = if (ansi) Math.addExact(sums(slot), in.longAt(i))
        else sums(slot) + in.longAt(i)
      seen(slot) = true
    }
    def merge(slot: Int, a: Accs, k: Int): Unit =
      if (seen(slot)) a.addLong(k, sums(slot))
  }

  private final class SumDoubleKernel(s: Int, in: ColAcc) extends DictKernel {
    private val sums = new Array[Double](s)
    private val seen = new Array[Boolean](s)
    def step(slot: Int, i: Int): Unit = if (!in.isNull(i)) {
      sums(slot) += in.dblAt(i); seen(slot) = true
    }
    def merge(slot: Int, a: Accs, k: Int): Unit =
      if (seen(slot)) a.addDouble(k, sums(slot))
  }

  /** Sum over a raw primitive double column — the common agg input. */
  private final class SumDoubleRawKernel(s: Int, v: Array[Double], nulls: BitSet)
      extends DictKernel {
    private val sums = new Array[Double](s)
    private val seen = new Array[Boolean](s)
    private val noNulls = nulls.isEmpty
    def step(slot: Int, i: Int): Unit = if (noNulls || !nulls(i)) {
      sums(slot) += v(i); seen(slot) = true
    }
    def merge(slot: Int, a: Accs, k: Int): Unit =
      if (seen(slot)) a.addDouble(k, sums(slot))
  }

  private final class MinMaxKernel(s: Int, in: ColAcc, ord: Ordering[Any],
      isMin: Boolean) extends DictKernel {
    private val best = new Array[Any](s)
    def step(slot: Int, i: Int): Unit = {
      val x = in.anyAt(i)
      if (x != null && (best(slot) == null ||
          (if (isMin) ord.compare(x, best(slot)) < 0 else ord.compare(x, best(slot)) > 0)))
        best(slot) = x
    }
    def merge(slot: Int, a: Accs, k: Int): Unit =
      if (best(slot) != null) {
        if (isMin) a.challengeMin(k, best(slot)) else a.challengeMax(k, best(slot))
      }
  }
}
