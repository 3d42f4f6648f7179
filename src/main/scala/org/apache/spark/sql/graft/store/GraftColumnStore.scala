package org.apache.spark.sql.graft.store

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.BitSet
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Wall-clock source for EXPIRE age checks and seal stamps — ONE
  * override point shared by both stores, so tests drive TTL
  * deterministically (no sleeps) and every age comparison in a process
  * reads the same clock.
  */
object StoreClock {
  @volatile private var offsetMs: Long = 0L
  def nowMs: Long = System.currentTimeMillis() + offsetMs
  /** Test hook: shift the clock forward (negative shifts back). */
  def advance(ms: Long): Unit = offsetMs += ms
  def reset(): Unit = offsetMs = 0L
}

/** Core of the `graftstore` mutable column store — the from-scratch analog
  * of the reference's column-batch storage with delta/delete mutation
  * (reference: encoders/.../columnar/ColumnBatch.scala:39 sealed batches +
  * stats row; ColumnDeltaEncoder.scala update deltas;
  * ColumnDeleteExec.scala:35 per-batch delete bitmaps;
  * ColumnFormatRelation.scala:137-161 delta/delete merge at scan;
  * delta row buffer rolled into batches, docs/.../Literals.scala:138-147).
  *
  * Layout:
  *  - Payloads (the actual column values) live in [[batches]], the
  *    shared [[PayloadTier]] instantiated for sealed batches (update
  *    deltas and delete bitmaps in [[BatchRegistry]]), written DIRECTLY
  *    by writer/mutation tasks — the executor-resident tier. Commit
  *    messages and table metadata carry only [[BatchRef]]s (ids + stats
  *    + row counts): metadata-scale, never data. On a multi-node cluster the registry maps to node-local bucket
  *    regions (reference GemFire regions) with refs flowing to the
  *    coordinator exactly as here.
  *  - A table is an immutable [[TableSnapshot]] swapped atomically under
  *    the table lock: sealed batch refs, small `isDelta` batches (the
  *    row-buffer analog: sub-batch-size appends accumulate here until
  *    compaction rolls them into full batches), per-batch delete bitmaps,
  *    and per-batch per-column ordered update-delta refs. Scans capture
  *    one snapshot at planning — readers never observe a partial
  *    mutation (snapshot isolation, same contract as the reference's
  *    snapshot transactions).
  *  - Columns inside a sealed batch are ENCODED ([[ColumnData]]):
  *    run-length for runs, dictionary for low cardinality, plain
  *    otherwise (reference ColumnEncoding.scala:765-771,
  *    DictionaryEncoding.scala). The scan decodes straight into Spark
  *    `ColumnarBatch` vectors.
  *
  * Payload lifecycle: superseded payloads (truncate / compact / overwrite
  * retirees) are reference-counted per snapshot by [[LeaseGc]] — scans pin
  * the snapshot epoch they planned against, and a retiree frees once no
  * reachable reader lease pins an epoch at or before its retirement
  * (Cleaner-driven, so abandoned plans cannot leak leases). Table DROP
  * releases everything immediately via `flushAll`.
  */
object GraftColumnStore extends TableRegistry {

  // ------------------------------ encodings ------------------------------

  /** One encoded column of a sealed batch. Decode is streaming
    * ([[foreachValue]]) — no per-access binary search on run boundaries.
    */
  sealed trait ColumnData extends Serializable {
    def numRows: Int
    /** Estimated in-memory footprint in bytes (encoding-cost model). */
    def sizeBytes: Long
    /** Stream (index, value-or-null) in row order. */
    def foreachValue(f: (Int, Any) => Unit): Unit
    /** The directly-readable form: `this` for every encoding except
      * [[CompressedColumn]], which inflates a transient copy. Scan/agg
      * fast paths call this once per (batch, column) access so their
      * type dispatch sees the concrete encoding underneath.
      */
    def materialized: ColumnData = this
    /** Decode to a boxed array (mutation/merge convenience). */
    final def toArray: Array[Any] = {
      val out = new Array[Any](numRows)
      foreachValue((i, v) => out(i) = v)
      out
    }
  }

  /** At-rest LZ4-compressed sealed column (reference batch-level codecs:
    * encoders/.../store/CompressionCodecId.scala + CompressionUtils.scala;
    * `COMPRESSION` table option, core/.../sql/store/StoreUtils.scala:42-58).
    * The payload is the encoded column through [[Lz4Serde]]; every read
    * inflates a TRANSIENT copy and drops it — the same memory-for-CPU
    * trade the reference makes by decompressing
    * per scan rather than caching inflated buffers. Opt-in per table via
    * `OPTIONS (compression 'lz4')`: the store is a hot in-memory tier, so
    * the default stays uncompressed. Update deltas and delete bitmaps are
    * never compressed (they are small and short-lived by construction).
    */
  final case class CompressedColumn(numRows: Int, rawSizeBytes: Long,
      bytes: Array[Byte]) extends ColumnData {
    def sizeBytes: Long = bytes.length.toLong
    override def materialized: ColumnData = Lz4Serde.fromBytes[ColumnData](bytes)
    def foreachValue(f: (Int, Any) => Unit): Unit = materialized.foreachValue(f)
  }

  object CompressedColumn {
    /** Wrap `col` when LZ4 actually pays: above a floor (tiny columns are
      * all fixed overhead) and saving at least 10%. Encodings compose —
      * a dictionary or run-length column deflates further when its
      * payload still has byte-level redundancy.
      */
    def deflate(col: ColumnData): ColumnData = {
      if (col.sizeBytes < 2048) return col
      val bytes = Lz4Serde.toBytes(col)
      if (bytes.length.toLong * 10 <= col.sizeBytes * 9) {
        CompressedColumn(col.numRows, col.sizeBytes, bytes)
      } else col
    }
  }

  final case class PlainColumn(values: Array[Any]) extends ColumnData {
    def numRows: Int = values.length
    def sizeBytes: Long = values.foldLeft(0L)((acc, v) => acc + valueBytes(v))
    def foreachValue(f: (Int, Any) => Unit): Unit = {
      var i = 0
      while (i < values.length) { f(i, values(i)); i += 1 }
    }
  }

  /** Primitive plain columns: unboxed storage, bulk vector transfer on
    * the scan (a no-copy `putLongs` when the column has no nulls).
    */
  final case class LongColumn(values: Array[Long], nulls: BitSet) extends ColumnData {
    def numRows: Int = values.length
    def sizeBytes: Long = 8L * values.length
    def foreachValue(f: (Int, Any) => Unit): Unit = {
      var i = 0
      while (i < values.length) { f(i, if (nulls(i)) null else values(i)); i += 1 }
    }
  }

  final case class DoubleColumn(values: Array[Double], nulls: BitSet) extends ColumnData {
    def numRows: Int = values.length
    def sizeBytes: Long = 8L * values.length
    def foreachValue(f: (Int, Any) => Unit): Unit = {
      var i = 0
      while (i < values.length) { f(i, if (nulls(i)) null else values(i)); i += 1 }
    }
  }

  final case class IntColumn(values: Array[Int], nulls: BitSet) extends ColumnData {
    def numRows: Int = values.length
    def sizeBytes: Long = 4L * values.length
    def foreachValue(f: (Int, Any) => Unit): Unit = {
      var i = 0
      while (i < values.length) { f(i, if (nulls(i)) null else values(i)); i += 1 }
    }
  }

  /** DECIMAL(p ≤ 18) column: unscaled longs (the scaled-long encoding —
    * reference ColumnEncoding stores small decimals as longs too). Generic
    * consumers see boxed [[Decimal]]s; the scan has a primitive fast path.
    */
  final case class DecimalColumn(values: Array[Long], nulls: BitSet,
      precision: Int, scale: Int) extends ColumnData {
    def numRows: Int = values.length
    def sizeBytes: Long = 8L * values.length
    def foreachValue(f: (Int, Any) => Unit): Unit = {
      var i = 0
      while (i < values.length) {
        f(i, if (nulls(i)) null else Decimal(values(i), precision, scale))
        i += 1
      }
    }
  }

  /** Run-length encoding: value of run r covers [runEnds(r-1), runEnds(r)). */
  final case class RunLengthColumn(numRows: Int, runValues: Array[Any],
      runEnds: Array[Int]) extends ColumnData {
    def sizeBytes: Long =
      runValues.foldLeft(0L)((acc, v) => acc + valueBytes(v)) + 4L * runEnds.length
    def foreachValue(f: (Int, Any) => Unit): Unit = {
      var r = 0
      var i = 0
      while (r < runValues.length) {
        val end = runEnds(r)
        val v = runValues(r)
        while (i < end) { f(i, v); i += 1 }
        r += 1
      }
    }
  }

  /** Dictionary encoding: codes index into `dict`; code -1 = null. */
  final case class DictColumn(dict: Array[Any], codes: Array[Int]) extends ColumnData {
    def numRows: Int = codes.length
    def sizeBytes: Long =
      dict.foldLeft(0L)((acc, v) => acc + valueBytes(v)) + 4L * codes.length
    def foreachValue(f: (Int, Any) => Unit): Unit = {
      var i = 0
      while (i < codes.length) {
        val c = codes(i)
        f(i, if (c < 0) null else dict(c))
        i += 1
      }
    }
  }

  private def valueBytes(v: Any): Long = v match {
    case null => 1L
    case s: UTF8String => 8L + s.numBytes()
    case _ => 8L
  }

  /** Pick the cheapest of plain / run-length / dictionary for a column.
    * One pass computes run count and (capped) cardinality; exact cost
    * model over the encodings above. Dictionary tracking aborts once
    * cardinality exceeds n/4 (dict can't win there), so unique key
    * columns don't pay the full hash-map toll.
    */
  def encode(values: Array[Any]): ColumnData = encode(values, null)

  /** As [[encode]], materializing a "plain" choice as an unboxed
    * primitive column when the data type allows.
    */
  def encode(values: Array[Any], dt: DataType): ColumnData = {
    val n = values.length
    if (n == 0) return PlainColumn(values)
    var runs = 1
    val maxDict = math.max(16, n / 4)
    var distinct: mutable.HashMap[Any, Int] = mutable.HashMap.empty
    var plainCost = 0L
    var i = 0
    while (i < n) {
      if (i > 0 && values(i) != values(i - 1)) runs += 1
      if (distinct != null && values(i) != null) {
        distinct.getOrElseUpdate(values(i), distinct.size)
        if (distinct.size > maxDict) distinct = null // dict can't win
      }
      plainCost += valueBytes(values(i))
      i += 1
    }
    val rleCost = plainCost / n * runs + 4L * runs // approx: avg value × runs
    val dictCost =
      if (distinct == null) Long.MaxValue
      else distinct.keys.foldLeft(0L)((a, v) => a + valueBytes(v)) + 4L * n
    if (rleCost < plainCost && rleCost <= dictCost) {
      val rv = ArrayBuffer.empty[Any]
      val re = ArrayBuffer.empty[Int]
      i = 0
      while (i < n) {
        if (i == 0 || values(i) != values(i - 1)) { rv += values(i); re += i }
        i += 1
      }
      // convert run starts to run ends
      val ends = new Array[Int](rv.length)
      var r = 0
      while (r < rv.length) {
        ends(r) = if (r + 1 < rv.length) re(r + 1) else n
        r += 1
      }
      RunLengthColumn(n, rv.toArray, ends)
    } else if (dictCost < plainCost) {
      val dict = new Array[Any](distinct.size)
      distinct.foreach { case (v, c) => dict(c) = v }
      val codes = new Array[Int](n)
      i = 0
      while (i < n) {
        codes(i) = if (values(i) == null) -1 else distinct(values(i))
        i += 1
      }
      DictColumn(dict, codes)
    } else typedPlain(values, dt)
  }

  private def typedPlain(values: Array[Any], dt: DataType): ColumnData = {
    val n = values.length
    var nulls = BitSet.empty
    var i = 0
    while (i < n) { if (values(i) == null) nulls += i; i += 1 }
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        val out = new Array[Long](n)
        i = 0
        while (i < n) { if (!nulls(i)) out(i) = values(i).asInstanceOf[Long]; i += 1 }
        LongColumn(out, nulls)
      case DoubleType =>
        val out = new Array[Double](n)
        i = 0
        while (i < n) { if (!nulls(i)) out(i) = values(i).asInstanceOf[Double]; i += 1 }
        DoubleColumn(out, nulls)
      case IntegerType | DateType =>
        val out = new Array[Int](n)
        i = 0
        while (i < n) { if (!nulls(i)) out(i) = values(i).asInstanceOf[Int]; i += 1 }
        IntColumn(out, nulls)
      case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
        val out = new Array[Long](n)
        i = 0
        while (i < n) {
          if (!nulls(i)) out(i) = values(i).asInstanceOf[Decimal].toUnscaledLong
          i += 1
        }
        DecimalColumn(out, nulls, d.precision, d.scale)
      case _ => PlainColumn(values)
    }
  }

  // ------------------------------ payloads -------------------------------

  /** Per-(batch, column) stats. `longSum` is the exact sum of non-null
    * values for integer-typed columns — it lets a clean-batch global SUM
    * serve from refs alone, O(batches) with the payload untouched. null
    * = unavailable: non-integer column, all-null batch, or the batch's
    * own sum overflowed a long (tracked at seal; the scan then falls
    * back to the row loop, which reproduces Spark's per-value ANSI
    * overflow error faithfully).
    */
  /** `valueBloom`: 64-bit two-hash bloom over a STRING column's distinct
    * batch values (0 = no digest) — the dictionary-membership analog of
    * the reference's dictionary-optimized access: an equality literal
    * whose bits are absent proves the batch holds no matching row even
    * when it falls inside [min, max], which is exactly the case for
    * low-cardinality (dictionary-encodable) columns where range stats
    * are useless. Saturates harmlessly toward all-ones as cardinality
    * grows.
    */
  /** `distinctSketch`: serialized HLL distinct sketch over the batch's
    * non-null values (null = column not opted in via the table's
    * `sketch_columns` option). See [[DistinctSketch]] — unioning these
    * per-batch digests answers APPROX COUNT DISTINCT from refs alone,
    * the payload untouched (the stats-row AQP fusion the reference's
    * closed-source sample/sketch tier layers on its column batches).
    */
  final case class ColumnStats(min: Any, max: Any, nullCount: Int,
      longSum: java.lang.Long = null, valueBloom: Long = 0L,
      distinctSketch: Array[Byte] = null)

  /** Per-batch HLL distinct digests (Apache DataSketches — the library
    * Spark's own `hll_sketch_agg` uses, same lgK/HLL_8 defaults and the
    * same value hashing, so our batch digests and Spark-built sketches
    * union losslessly; the interop is spec-proven, not assumed).
    *
    * Scale shape: a digest is O(2^lgK) = 4 KB metadata per (batch,
    * column); estimation unions O(batches) digests on the driver —
    * payloads, and therefore executors, are never touched. Mutation
    * semantics: sealed digests can't subtract, so under deletes (and
    * overwritten update values) the union is an UPPER BOUND on live
    * distincts; update deltas carry their own digests so values
    * introduced by UPDATE are always counted. `compact()` rewrites
    * batches and re-sketches, tightening the bound back to exact-ε.
    */
  object DistinctSketch {
    import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
    /** Spark's HllSketchAgg defaults (HllSketchAgg.scala): lgK 12, HLL_8. */
    val LgK = 12
    private val EmptyStringSentinel = Array[Byte](0)

    def create(): HllSketch = new HllSketch(LgK, TgtHllType.HLL_8)

    /** Hash a value the way Spark's hll_sketch_agg does: integers widen
      * to long, strings hash their UTF-8 bytes. Other scalar types are
      * ours alone (Spark's agg rejects them), hashed canonically.
      */
    def update(s: HllSketch, dt: DataType, v: Any): Unit = dt match {
      case LongType | TimestampType | TimestampNTZType =>
        s.update(v.asInstanceOf[Long])
      case IntegerType | DateType => s.update(v.asInstanceOf[Int].toLong)
      case ShortType => s.update(v.asInstanceOf[Short].toLong)
      case ByteType => s.update(v.asInstanceOf[Byte].toLong)
      case StringType | _: CharType | _: VarcharType =>
        val bytes = v.asInstanceOf[UTF8String].getBytes
        // DataSketches update(byte[]) silently NO-OPS on empty input —
        // Spark's own hll_sketch_agg drops "" the same way, but our
        // contract is approx_count_distinct (which counts it), so ""
        // maps to a one-byte sentinel instead. Collides only with
        // the NUL-char string — a single-value perturbation inside the estimate's
        // error budget; every non-empty value stays union-compatible
        // with Spark-built sketches.
        s.update(if (bytes.isEmpty) EmptyStringSentinel else bytes)
      case DoubleType => s.update(v.asInstanceOf[Double])
      case FloatType => s.update(v.asInstanceOf[Float].toDouble)
      case BooleanType => s.update(if (v.asInstanceOf[Boolean]) 1L else 0L)
      case _: DecimalType => s.update(v.asInstanceOf[Decimal].toJavaBigDecimal
        .stripTrailingZeros.toString)
      case _ => throw new IllegalArgumentException(
        s"graftstore: no distinct sketch for type $dt")
    }

    def serialize(s: HllSketch): Array[Byte] = s.toCompactByteArray

    private def union(digests: Iterator[Array[Byte]]): Union = {
      val u = new Union(LgK)
      digests.foreach(b => u.update(HllSketch.heapify(b)))
      u
    }

    /** Union serialized digests → estimated distinct count. */
    def estimate(digests: Iterator[Array[Byte]]): Long =
      math.round(union(digests).getEstimate)

    /** Union serialized digests → one serialized digest (for exposing
      * a table-level sketch to Spark's `hll_sketch_estimate`/
      * `hll_union` SQL functions).
      */
    def unionBytes(digests: Iterator[Array[Byte]]): Array[Byte] =
      union(digests).getResult(TgtHllType.HLL_8).toCompactByteArray

    /** Parse + validate the `sketch_columns` option value against a
      * schema — the ONE copy both the DSv2 option path and the catalog
      * CREATE path call (they must reject identically, or a table one
      * path admits poisons the other's writes).
      */
    def parseSketchColumns(value: String, schema: StructType): Seq[String] = {
      val cols = value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // an empty schema means the caller has no field list to check
      // against (schema-less resolution) — defer to the write path
      if (schema.fields.isEmpty) return cols
      cols.foreach { c =>
        val f = schema.fields.find(_.name == c)
        require(f.isDefined, s"graftstore: sketch_columns column '$c' not in schema")
        require(statsComparable(f.get.dataType),
          s"graftstore: sketch_columns '$c' has unsupported type ${f.get.dataType}")
      }
      cols
    }
  }

  /** Two bloom bits for a string value (UTF8String hash). */
  def bloomBits(v: Any): Long = {
    val h = v.asInstanceOf[UTF8String].hashCode()
    (1L << (h & 63)) | (1L << ((h >>> 8) & 63))
  }

  /** Sealed batch payload: encoded column-major values. */
  final class StoreBatch(
      val numRows: Int,
      val columns: Array[ColumnData]) extends Serializable {
    // cached: estimateStatistics asks at every planning
    lazy val sizeBytes: Long = columns.foldLeft(0L)(_ + _.sizeBytes)
  }

  /** Update-delta payload for one (batch, column): sorted physical row
    * indices + new values (reference ColumnDeltaEncoder semantics).
    */
  final class ColumnDeltaPayload(
      val rows: Array[Int],
      val values: Array[Any]) extends Serializable

  // ONE id space across batches, deltas and bitmaps: a mutation
  // fingerprint ([[TableSnapshot.mutationState]]) and the matview
  // bitmap pins compare ids of different payload kinds
  private val payloadIds = new AtomicLong(0)

  /** Sealed-batch payloads (see [[PayloadTier]]). */
  val batches = new PayloadTier[StoreBatch]("graftstore batch", "batch", _.sizeBytes, payloadIds)

  /** Update-delta and delete-bitmap payloads — written by mutation TASKS,
    * resolved by scan tasks; commit messages carry only ids. They are
    * small and short-lived by construction, so they never spill.
    */
  object BatchRegistry {
    private val deltas = TrieMap.empty[Long, ColumnDeltaPayload]
    private val bitmaps = TrieMap.empty[Long, Array[Long]]

    def putDelta(d: ColumnDeltaPayload): Long = {
      val id = payloadIds.incrementAndGet()
      deltas.put(id, d)
      id
    }
    def delta(id: Long): ColumnDeltaPayload = deltas.getOrElse(id,
      throw new IllegalStateException(s"graftstore delta payload missing: $id"))
    /** Delete-bitmap payload (bitmask words) — written by delete TASKS,
      * resolved by scan tasks; commit messages carry only the id
      * (same executor-resident design as batch/delta payloads).
      */
    def putBitmap(words: Array[Long]): Long = {
      val id = payloadIds.incrementAndGet()
      bitmaps.put(id, words)
      id
    }
    def bitmapWords(id: Long): Array[Long] = bitmaps.getOrElse(id,
      throw new IllegalStateException(s"graftstore delete-bitmap payload missing: $id"))

    // ---- freshness bitmap pins: a registered materialized view records
    // each batch's delete-bitmap ID in its fingerprint, and the
    // repeat-delete subtractive refresh derives "newly tombstoned rows"
    // as (current bitmap) MINUS (recorded bitmap) — so the recorded
    // payload must outlive the snapshot swap that supersedes it
    // (applyDeletes unions old|new into a NEW payload and retires both
    // inputs). Pins are REFCOUNTED (several views can record the same
    // id); a release arriving while pinned DEFERS until the last unpin.
    // Pinned state is metadata + the bitmap words (~numRows/8 bytes per
    // touched batch) — bounded by live bitmap volume, never row data.
    private val bitmapPins = mutable.Map.empty[Long, Int]
    private val deferredBitmapFrees = mutable.Set.empty[Long]

    /** Pin `id` against release; no-op if the payload is already gone
      * (callers re-check [[hasBitmap]] before relying on it).
      */
    def pinBitmap(id: Long): Unit = synchronized {
      if (bitmaps.contains(id))
        bitmapPins(id) = bitmapPins.getOrElse(id, 0) + 1
    }

    def unpinBitmap(id: Long): Unit = synchronized {
      bitmapPins.get(id).foreach { n =>
        if (n > 1) bitmapPins(id) = n - 1
        else {
          bitmapPins.remove(id)
          if (deferredBitmapFrees.remove(id)) bitmaps.remove(id)
        }
      }
    }

    def hasBitmap(id: Long): Boolean = bitmaps.contains(id)

    /** Pinned-bitmap telemetry: (live pins, deferred frees). */
    def bitmapPinStats: (Int, Int) =
      synchronized { (bitmapPins.size, deferredBitmapFrees.size) }
    def release(r: Retirees): Unit = synchronized {
      batches.release(r.payloads)
      r.deltas.foreach(deltas.remove)
      r.bitmaps.foreach { id =>
        if (bitmapPins.contains(id)) deferredBitmapFrees += id
        else bitmaps.remove(id)
      }
    }
  }

  // ------------------------------ metadata -------------------------------

  /** Metadata-only handle to a batch payload — what commit messages and
    * snapshots carry. `isDelta` marks row-buffer batches (sub-batch-size
    * appends) that compaction rolls into full sealed batches.
    */
  /** `createdAtMs`: seal wall-clock — the age EXPIRE tests against. Every
    * row in a batch is at least as old as its seal, so "batch sealed
    * more than TTL ago" implies "every row exceeds TTL" (expiry is
    * conservative by at most the batch fill duration). Table REWRITES
    * (compact / createIndex / zorder / checkpoint-restore) re-seal the
    * surviving rows and therefore RESTART their TTL clock — the
    * entry-TTL-resets-on-modify semantics of the reference's GemFire
    * regions. Already-expired rows never resurrect (rewrites read
    * through the scan, which hides them); but a table compacted more
    * often than its TTL retains its live rows indefinitely — schedule
    * maintenance accordingly.
    */
  final case class BatchRef(
      id: Long,
      bucketId: Int,
      numRows: Int,
      stats: Array[ColumnStats],
      isDelta: Boolean,
      createdAtMs: Long = 0L) extends PayloadRef with Serializable

  /** `sketch`: HLL digest of the delta's replacement values when the
    * column is sketched (null otherwise) — UPDATE can introduce values
    * no sealed batch ever held, so the approx-distinct union must see
    * delta values too or it would under-count.
    */
  final case class ColumnDeltaRef(deltaId: Long, numRows: Int,
      sketch: Array[Byte] = null)

  /** Metadata-only handle to a per-batch delete-bitmap payload: the id in
    * [[BatchRegistry]] plus the popcount (so snapshot row accounting
    * never touches the payload). At 100 TB a 10% delete returns refs —
    * ~24 bytes per touched batch — to the driver instead of ~numRows/8
    * bitmap bytes.
    */
  final case class DeleteRef(bitmapId: Long, cardinality: Int) extends Serializable {
    def bitset: BitSet = BitSet.fromBitMaskNoCopy(BatchRegistry.bitmapWords(bitmapId))
  }

  /** Immutable table state; all mutation swaps the whole snapshot.
    * `sortedBy` records index clustering (CREATE INDEX): batches were
    * written key-ordered, so per-batch min/max stats on those columns are
    * narrow and the scan's stats skipping IS the index probe.
    */
  final case class TableSnapshot(
      schema: StructType,
      bucketBy: Seq[String],
      numBuckets: Int,
      keyColumns: Seq[String],
      refs: Vector[BatchRef],
      deletes: Map[Long, DeleteRef],
      updates: Map[Long, Map[Int, Vector[ColumnDeltaRef]]],
      sortedBy: Seq[String] = Nil,
      batchSize: Int = ColumnLayout.DefaultBatchSize,
      compression: String = "none",
      evictionBudget: Long = 0L,
      zorderedBy: Seq[String] = Nil,
      sketchBy: Seq[String] = Nil,
      expireSeconds: Long = 0L,
      rollupThreshold: Int = 0) extends TableState[TableSnapshot, BatchRef] {
    def withRefs(refs: Vector[BatchRef]): TableSnapshot = copy(refs = refs)
    /** Dropped batches retire with their update deltas and delete bitmaps. */
    def withoutRefs(ids: Set[Long]): (TableSnapshot, Retirees) =
      (copy(refs = refs.filterNot(r => ids(r.id)), deletes = deletes -- ids,
        updates = updates -- ids),
        Retirees(refs.collect { case r if ids(r.id) => r.id },
          updates.iterator.filter(e => ids(e._1))
            .flatMap(_._2.values.flatten.map(_.deltaId)).toSeq,
          deletes.iterator.filter(e => ids(e._1)).map(_._2.bitmapId).toSeq))
    def rowCount: Long = liveRefs.iterator
      .map(r => r.numRows.toLong - deletes.get(r.id).map(_.cardinality).getOrElse(0)).sum
    def liveRows(ref: BatchRef): Int =
      ref.numRows - deletes.get(ref.id).map(_.cardinality).getOrElse(0)
    // registry size METADATA, not payloads — planning must never fault
    // a spilled batch back in just to estimate statistics
    def sizeBytes: Long = refs.map(r => batches.sizeBytes(r.id)).sum
    /** Heap-resident payload bytes (spilled batches count 0). */
    def residentBytes: Long = refs.map(r => batches.residentBytes(r.id)).sum
    /** Per-batch mutation fingerprint: the delete bitmap id plus the
      * sorted update delta ids. Payload ids never recycle, so equality
      * of two fingerprints proves no DELETE/UPDATE committed against
      * those batches between the snapshots — [[StoreTable.swapRefs]]
      * compares the maintenance-read fingerprint against the
      * commit-time one and aborts on any difference (liveness alone
      * misses a delete on a STILL-LIVE small seal, which the merged
      * rows would silently resurrect).
      */
    def mutationState(ids: Set[Long]): Map[Long, (Option[Long], Vector[Long])] =
      ids.iterator.map { id =>
        id -> (deletes.get(id).map(_.bitmapId),
          updates.getOrElse(id, Map.empty).valuesIterator
            .flatMap(_.iterator.map(_.deltaId)).toVector.sorted)
      }.toMap
  }

  final class StoreTable(name: String, initial: TableSnapshot)
      extends SnapshotTable[TableSnapshot, BatchRef](name, initial, batches) {
    protected def free(r: Retirees): Unit = BatchRegistry.release(r)

    /** Union new delete-bitmap REFS in; fully-dead batches are dropped
      * from the ref list (payloads are released on table drop). When a
      * batch already carries a bitmap, the union payload is built where
      * the batch lives — the registry tier, not the commit path; only
      * refs move through the snapshot swap.
      */
    /** Optionally also appends `alsoAppend` refs in the SAME snapshot
      * swap — the atomic delete+append a key upsert needs (a reader
      * never observes the matched keys deleted but their replacements
      * not yet present).
      */
    def applyDeletes(newDeletes: Map[Long, DeleteRef],
        alsoAppend: Seq[BatchRef] = Nil): Unit = {
      mutateRetiring { s =>
        val supersededBitmaps = Seq.newBuilder[Long]
        val deadBatches = Seq.newBuilder[Long]
        val deadDeltas = Seq.newBuilder[Long]
        val merged0 = (s.deletes.keySet ++ newDeletes.keySet).map { id =>
          val ref = (s.deletes.get(id), newDeletes.get(id)) match {
            case (Some(a), Some(b)) =>
              val u = a.bitset | b.bitset
              // both input payloads are superseded by the union
              supersededBitmaps += a.bitmapId += b.bitmapId
              DeleteRef(BatchRegistry.putBitmap(u.toBitMask), u.size)
            case (a, b) => a.orElse(b).get
          }
          id -> ref
        }.toMap
        // a delete staged against a batch that left the snapshot since
        // (expireSweep racing a PUT INTO/DELETE commit) must not
        // re-enter the map: batch ids never recycle, so an orphan entry
        // — and its bitmap payload — would live forever
        val knownIds = s.refs.iterator.map(_.id).toSet
        val (merged, orphans) = merged0.partition { case (id, _) => knownIds(id) }
        orphans.valuesIterator.foreach(supersededBitmaps += _.bitmapId)
        val (dead, live) = s.refs.partition(r =>
          merged.get(r.id).exists(_.cardinality >= r.numRows))
        dead.foreach { r =>
          deadBatches += r.id
          merged.get(r.id).foreach(supersededBitmaps += _.bitmapId)
          s.updates.get(r.id).foreach(_.values.flatten.foreach(deadDeltas += _.deltaId))
        }
        (s.copy(refs = live ++ alsoAppend,
          deletes = merged -- dead.map(_.id),
          updates = s.updates -- dead.map(_.id)),
          Some(Retirees(deadBatches.result(), deadDeltas.result(),
            supersededBitmaps.result())))
      }
      ()
    }

    /** Append update-delta refs (applied at scan in arrival order). A
      * delta addressed to a batch no longer in the snapshot (retired by
      * a racing expireSweep) is dropped and its payload released — ids
      * never recycle, so it could not apply to anything.
      */
    def applyUpdates(newUpdates: Seq[(Long, Int, ColumnDeltaRef)]): Unit = mutateRetiring { s =>
      val knownIds = s.refs.iterator.map(_.id).toSet
      val (applicable, orphans) = newUpdates.partition(t => knownIds(t._1))
      var u = s.updates
      applicable.foreach { case (batchId, colIdx, ref) =>
        val perBatch = u.getOrElse(batchId, Map.empty)
        val chain = perBatch.getOrElse(colIdx, Vector.empty) :+ ref
        u = u.updated(batchId, perBatch.updated(colIdx, chain))
      }
      (s.copy(updates = u),
        if (orphans.isEmpty) None
        else Some(Retirees(Nil, orphans.map(_._3.deltaId), Nil)))
    }

    /** Swap a SPECIFIC set of live refs for merged replacements in one
      * atomic transition (the roll-up commit). Returns false — changing
      * nothing — if any of `oldIds` is no longer live OR its
      * delete/update state changed since the maintenance read (a
      * DELETE/UPDATE can commit against a still-live small seal while
      * the multi-second merge job runs; liveness alone would let the
      * swap drop that bitmap/delta and resurrect the deleted rows);
      * the caller releases its new payloads then. `expectedMutations`
      * is [[TableSnapshot.mutationState]] of the snapshot the
      * maintenance read pinned — on a match, the old refs' delete
      * bitmaps and update deltas retire WITH them, because the read
      * provably folded exactly that state into the merged rows.
      */
    def swapRefs(oldIds: Set[Long],
        expectedMutations: Map[Long, (Option[Long], Vector[Long])],
        newRefs: Vector[BatchRef]): Boolean = {
      var ok = false
      mutateRetiring { s =>
        val live = s.refs.map(_.id).toSet
        if (!oldIds.subsetOf(live) ||
            s.mutationState(oldIds) != expectedMutations) { ok = false; (s, None) }
        else {
          ok = true
          val (kept, retirees) = s.withoutRefs(oldIds)
          (kept.withRefs(kept.refs ++ newRefs), Some(retirees))
        }
      }
      ok
    }
  }

  type T = StoreTable
  def kind: String = "graftstore"

  /** Delete refs staged by an upsert for the table's NEXT append commit:
    * the commit applies them and the new batch refs in one atomic
    * snapshot swap (see [[StoreTable.applyDeletes]]), so the upsert
    * never exposes a matched-keys-deleted-but-not-replaced state. The
    * stager must drop (and release) its staged refs if the append fails.
    */
  // staged matched-key deletes for an in-flight PUT INTO, keyed by a
  // per-upsert TOKEN (NOT the table name): two concurrent upserts on one
  // table must each commit exactly their own staged set — under a shared
  // table key, the first commit would apply the other writer's deletes
  // without its appends, exposing readers to a deleted-but-not-replaced
  // window
  private val stagedDeletes = TrieMap.empty[String, Map[Long, DeleteRef]]
  def stageDeletes(token: String, refs: Map[Long, DeleteRef]): Unit =
    stagedDeletes.put(token, refs)
  def takeStagedDeletes(token: String): Option[Map[Long, DeleteRef]] =
    stagedDeletes.remove(token)

  /** Scan-side telemetry: batches skipped by stats since JVM start
    * (asserted by specs to prove pruning actually happens).
    */
  val batchesSkipped = new AtomicLong(0)
  val batchesScanned = new AtomicLong(0)
  val bucketsPruned = new AtomicLong(0)
  /** Aggregate pushdown telemetry: accepted pushes / batches served by
    * the dictionary code-indexed fast path (asserted by specs).
    */
  val aggPushes = new AtomicLong(0)
  val aggDictBatches = new AtomicLong(0)

  // ---- EVICTION_BY 'LRUHEAPPERCENT [n]' + OVERFLOW 'true' (GemFire's
  // heap-pressure policy): participating tables share ONE global
  // resident budget — a fraction of the JVM max heap — and spill LRU
  // ACROSS tables when their combined resident payload crosses it. This
  // is engine metadata (which tables participate), not physical layout,
  // so it lives here rather than in snapshots; compaction keeps it
  // because the registry is keyed by table name.
  private val heapOverflowTables = TrieMap.empty[String, Unit]
  @volatile var heapOverflowBudgetBytes: Long =
    (Runtime.getRuntime.maxMemory() * 0.8).toLong
  def setHeapOverflow(name: String, enabled: Boolean): Unit =
    if (enabled) heapOverflowTables.put(name, ()) else heapOverflowTables.remove(name)
  def isHeapOverflow(name: String): Boolean = heapOverflowTables.contains(name)

  /** LRUHEAPPERCENT enforcement: when `name` participates in the pool,
    * spill LRU across every participating table until their combined
    * resident payload fits the pool budget. Called after write commits;
    * a table's own EVICTION_BY 'LRUMEMSIZE n' budget is enforced by every
    * snapshot swap ([[SnapshotTable.mutateRetiring]]).
    */
  def enforceHeapPool(name: String): Unit =
    if (heapOverflowTables.contains(name)) {
      val pool = heapOverflowTables.keys.flatMap(get).flatMap(_.snapshot.refs.map(_.id)).toSeq
      batches.enforceBudget(pool, heapOverflowBudgetBytes)
    }

  // pool membership is engine metadata keyed by name
  override protected def forget(name: String): Unit =
    heapOverflowTables.remove(name)

  /** Plan-time heuristic for [[DictJoinStrategy]]'s auto mode: does the
    * column's sealed data look dictionary-encoded? Samples up to 8
    * RESIDENT sealed batches — never faults a spilled payload in and
    * never inflates an LZ4 column for a planning decision (both count as
    * non-dict) — and requires a dict majority among the sample. An empty
    * or fully-spilled table answers false (auto declines, Spark plans
    * normally).
    */
  def likelyDictEncoded(table: String, column: String): Boolean =
    get(table).exists { t =>
      val snap = t.snapshot
      val idx = snap.schema.fieldNames.indexWhere(_.equalsIgnoreCase(column))
      idx >= 0 && {
        // refs are ALL sealed batches (isDelta only marks the partial
        // row-buffer seals, encoded identically) — sample them all
        val sampled = snap.refs.iterator
          .flatMap(r => batches.residentPayload(r.id))
          .take(8).toSeq
        sampled.nonEmpty &&
          sampled.count(_.columns(idx).isInstanceOf[DictColumn]) * 2 > sampled.size
      }
    }

  /** The table's roll-up policy (0 when off or when there is no such table). */
  def rollupThreshold(name: String): Int = get(name).fold(0)(_.snapshot.rollupThreshold)

  // ------------------------------- builder -------------------------------

  /** Writer-task builder: buffers rows, seals an encoded batch every
    * `batchSize` rows and registers the payload DIRECTLY in
    * [[batches]] (executor-resident); returns refs only. The final
    * partial batch is sealed with `isDelta = true` — the row-buffer
    * analog — so compaction can later roll small appends together.
    */
  // ---- typed per-column accumulation (no boxing for primitives) ----

  private sealed trait ColBuilder {
    def add(row: InternalRow, c: Int, i: Int): Unit
    /** Seal the first n values → (encoded column, stats); resets. */
    def seal(n: Int): (ColumnData, ColumnStats)
  }

  private final class LongColBuilder(size: Int) extends ColBuilder {
    private var vals = new Array[Long](size)
    private var nulls = mutable.BitSet.empty
    def add(row: InternalRow, c: Int, i: Int): Unit =
      if (row.isNullAt(c)) nulls += i else vals(i) = row.getLong(c)
    def seal(n: Int): (ColumnData, ColumnStats) = {
      var min = Long.MaxValue
      var max = Long.MinValue
      var sum = 0L
      var ovf = false
      var runs = 1
      var i = 0
      while (i < n) {
        if (!nulls(i)) {
          val v = vals(i)
          if (v < min) min = v
          if (v > max) max = v
          val ns = sum + v
          if (((sum ^ ns) & (v ^ ns)) < 0) ovf = true // see ColumnStats
          sum = ns
        }
        if (i > 0 && (vals(i) != vals(i - 1) || nulls(i) != nulls(i - 1))) runs += 1
        i += 1
      }
      val out = if (n == size) vals else java.util.Arrays.copyOf(vals, n)
      val nullCount = nulls.size
      val col: ColumnData =
        if (runs.toLong * 12 < n.toLong * 8 / 2) // RLE at least halves it
          encode(LongColumn(out, BitSet.fromBitMaskNoCopy(nulls.toBitMask)).toArray,
            LongType)
        else LongColumn(out, BitSet.fromBitMaskNoCopy(nulls.toBitMask))
      val st = ColumnStats(if (nullCount == n) null else min,
        if (nullCount == n) null else max, nullCount,
        if (nullCount == n || ovf) null else java.lang.Long.valueOf(sum))
      vals = new Array[Long](size)
      nulls = mutable.BitSet.empty
      (col, st)
    }
  }

  private final class DoubleColBuilder(size: Int) extends ColBuilder {
    private var vals = new Array[Double](size)
    private var nulls = mutable.BitSet.empty
    def add(row: InternalRow, c: Int, i: Int): Unit =
      if (row.isNullAt(c)) nulls += i else vals(i) = row.getDouble(c)
    def seal(n: Int): (ColumnData, ColumnStats) = {
      // Double.compare ordering (NaN greatest, -0.0 < 0.0) — primitive
      // </> would exclude NaN from both bounds, so a {1.0, NaN} batch
      // would seal max=1.0 and `WHERE x > 100` (true for NaN under
      // Spark semantics) would wrongly prune the batch; an all-NaN
      // batch would seal garbage sentinel bounds
      var first = true
      var min = 0.0
      var max = 0.0
      var i = 0
      while (i < n) {
        if (!nulls(i)) {
          val v = vals(i)
          if (first) { min = v; max = v; first = false }
          else {
            if (java.lang.Double.compare(v, min) < 0) min = v
            if (java.lang.Double.compare(v, max) > 0) max = v
          }
        }
        i += 1
      }
      val out = if (n == size) vals else java.util.Arrays.copyOf(vals, n)
      val nullCount = nulls.size
      val col = DoubleColumn(out, BitSet.fromBitMaskNoCopy(nulls.toBitMask))
      val st = ColumnStats(if (nullCount == n) null else min,
        if (nullCount == n) null else max, nullCount)
      vals = new Array[Double](size)
      nulls = mutable.BitSet.empty
      (col, st)
    }
  }

  private final class IntColBuilder(size: Int) extends ColBuilder {
    private var vals = new Array[Int](size)
    private var nulls = mutable.BitSet.empty
    def add(row: InternalRow, c: Int, i: Int): Unit =
      if (row.isNullAt(c)) nulls += i else vals(i) = row.getInt(c)
    def seal(n: Int): (ColumnData, ColumnStats) = {
      var min = Int.MaxValue
      var max = Int.MinValue
      var sum = 0L // int sums widen to long (Spark's sum(int) type)
      var i = 0
      while (i < n) {
        if (!nulls(i)) {
          val v = vals(i)
          if (v < min) min = v
          if (v > max) max = v
          sum += v
        }
        i += 1
      }
      val out = if (n == size) vals else java.util.Arrays.copyOf(vals, n)
      val nullCount = nulls.size
      val col = IntColumn(out, BitSet.fromBitMaskNoCopy(nulls.toBitMask))
      val st = ColumnStats(if (nullCount == n) null else min,
        if (nullCount == n) null else max, nullCount,
        if (nullCount == n) null else java.lang.Long.valueOf(sum))
      vals = new Array[Int](size)
      nulls = mutable.BitSet.empty
      (col, st)
    }
  }

  /** DECIMAL(p ≤ 18): unscaled-long accumulation, no boxing. Stats are
    * stored as [[Decimal]]s so pruning compares uniformly.
    */
  private final class DecimalColBuilder(size: Int, precision: Int, scale: Int)
      extends ColBuilder {
    private var vals = new Array[Long](size)
    private var nulls = mutable.BitSet.empty
    def add(row: InternalRow, c: Int, i: Int): Unit =
      if (row.isNullAt(c)) nulls += i
      else vals(i) = row.getDecimal(c, precision, scale).toUnscaledLong
    def seal(n: Int): (ColumnData, ColumnStats) = {
      var min = Long.MaxValue
      var max = Long.MinValue
      var i = 0
      while (i < n) {
        if (!nulls(i)) {
          val v = vals(i)
          if (v < min) min = v
          if (v > max) max = v
        }
        i += 1
      }
      val out = if (n == size) vals else java.util.Arrays.copyOf(vals, n)
      val nullCount = nulls.size
      val col = DecimalColumn(out, BitSet.fromBitMaskNoCopy(nulls.toBitMask),
        precision, scale)
      val st = ColumnStats(
        if (nullCount == n) null else Decimal(min, precision, scale),
        if (nullCount == n) null else Decimal(max, precision, scale), nullCount)
      vals = new Array[Long](size)
      nulls = mutable.BitSet.empty
      (col, st)
    }
  }

  /** Generic boxed path (strings — cloned, the scan reuses row buffers —
    * plus booleans/floats, arrays/maps/structs, and anything else).
    */
  private final class AnyColBuilder(size: Int, dt: DataType) extends ColBuilder {
    private val isString = dt == StringType ||
      dt.isInstanceOf[CharType] || dt.isInstanceOf[VarcharType]
    private val isArray = dt.isInstanceOf[ArrayType]
    private val isMap = dt.isInstanceOf[MapType]
    private val structFields = dt match {
      case st: StructType => st.fields.length
      case _ => -1
    }
    private val hasStats = statsComparable(dt)
    private var vals = new Array[Any](size)
    def add(row: InternalRow, c: Int, i: Int): Unit =
      vals(i) =
        if (row.isNullAt(c)) null
        else if (isString) row.getUTF8String(c).clone()
        // containers: scan row buffers are reused — deep-copy to own them
        else if (isArray) row.getArray(c).copy()
        else if (isMap) row.getMap(c).copy()
        else if (structFields >= 0) row.getStruct(c, structFields).copy()
        else row.get(c, dt)
    def seal(n: Int): (ColumnData, ColumnStats) = {
      val out =
        if (n == size) vals
        else {
          val o = new Array[Any](n)
          System.arraycopy(vals, 0, o, 0, n)
          o
        }
      var nulls = 0
      var min: Any = null
      var max: Any = null
      var bloom = 0L
      var i = 0
      while (i < n) {
        val v = out(i)
        if (v == null) nulls += 1
        else if (hasStats) {
          if (min == null || compare(dt, v, min) < 0) min = v
          if (max == null || compare(dt, v, max) > 0) max = v
          if (isString) bloom |= bloomBits(v)
        }
        i += 1
      }
      // containers: no run/dict scan — hashing whole vectors buys
      // nothing, and generic map/struct rows lack stable value equality.
      val col =
        if (isArray || isMap || structFields >= 0) PlainColumn(out)
        else encode(out, dt)
      vals = new Array[Any](size)
      (col, ColumnStats(min, max, nulls, valueBloom = bloom))
    }
  }

  final class BatchBuilder(schema: StructType, batchSize: Int, bucketId: Int,
      compress: Boolean = false, sketchBy: Seq[String] = Nil) {
    private val fields = schema.fields
    // per-field HLL accumulators for sketch_columns fields (null = off)
    private val sketches: Array[org.apache.datasketches.hll.HllSketch] =
      fields.map(f =>
        if (sketchBy.contains(f.name)) DistinctSketch.create() else null)
    private val builders: Array[ColBuilder] = fields.map { f =>
      f.dataType match {
        case LongType | TimestampType | TimestampNTZType => new LongColBuilder(batchSize)
        case DoubleType => new DoubleColBuilder(batchSize)
        case IntegerType | DateType => new IntColBuilder(batchSize)
        case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
          new DecimalColBuilder(batchSize, d.precision, d.scale)
        case dt => new AnyColBuilder(batchSize, dt)
      }
    }
    private var n = 0
    private val refs = ArrayBuffer.empty[BatchRef]

    def add(row: InternalRow): Unit = {
      var c = 0
      while (c < fields.length) {
        builders(c).add(row, c, n)
        val sk = sketches(c)
        if (sk != null && !row.isNullAt(c)) {
          val dt = fields(c).dataType
          DistinctSketch.update(sk, dt, row.get(c, dt))
        }
        c += 1
      }
      n += 1
      if (n >= batchSize) seal(isDelta = false)
    }

    private def seal(isDelta: Boolean): Unit = if (n > 0) {
      val cols = Array.ofDim[ColumnData](fields.length)
      val stats = Array.ofDim[ColumnStats](fields.length)
      var c = 0
      while (c < fields.length) {
        val (col, st) = builders(c).seal(n)
        cols(c) = if (compress) CompressedColumn.deflate(col) else col
        stats(c) =
          if (sketches(c) == null) st
          else {
            val bytes = DistinctSketch.serialize(sketches(c))
            sketches(c) = DistinctSketch.create() // reset for the next batch
            st.copy(distinctSketch = bytes)
          }
        c += 1
      }
      val id = batches.put(new StoreBatch(n, cols))
      refs += BatchRef(id, bucketId, n, stats, isDelta,
        createdAtMs = StoreClock.nowMs)
      n = 0
    }

    /** Seal the remainder (as a delta/row-buffer batch) and return refs. */
    def result(): Seq[BatchRef] = { seal(isDelta = true); refs.toSeq }

    /** Release everything this builder registered (task abort). */
    def abort(): Unit = {
      batches.release(refs.map(_.id))
      refs.clear()
      n = 0
    }
  }

  def compare(dt: DataType, a: Any, b: Any): Int = dt match {
    // integral comparisons widen through Number: a pushed filter value
    // can arrive narrower than the column (an int literal probing a
    // bigint key) and an unboxing cast would crash the prune
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Number].longValue,
        b.asInstanceOf[Number].longValue)
    case IntegerType | DateType =>
      java.lang.Integer.compare(a.asInstanceOf[Number].intValue,
        b.asInstanceOf[Number].intValue)
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case StringType | _: CharType | _: VarcharType =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case BooleanType => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case _: DecimalType => a.asInstanceOf[Decimal].compareTo(b.asInstanceOf[Decimal])
    case ByteType => java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case ShortType => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case _ => 0
  }

  /** Types with meaningful min/max batch stats (orderable scalars). */
  def statsComparable(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType | IntegerType | DateType |
         DoubleType | FloatType | StringType | BooleanType | ByteType |
         ShortType => true
    case _: DecimalType | _: CharType | _: VarcharType => true
    case _ => false
  }

  /** Types the store can hold (columnar encode + stats + vector fill).
    * DECIMAL(p ≤ 18) stores as unscaled longs; wider decimals ride the
    * boxed path. CHAR/VARCHAR store as strings (Spark enforces their
    * length/padding semantics above the source, like every v2 source).
    */
  def supportsType(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType | IntegerType | DateType |
         DoubleType | FloatType | StringType | BooleanType | ByteType |
         ShortType | BinaryType => true
    case _: DecimalType | _: CharType | _: VarcharType => true
    case ArrayType(et, _) => supportsType(et)
    case MapType(kt, vt, _) => supportsType(kt) && supportsType(vt)
    case st: StructType => st.fields.forall(f => supportsType(f.dataType))
    case _ => false
  }
}
