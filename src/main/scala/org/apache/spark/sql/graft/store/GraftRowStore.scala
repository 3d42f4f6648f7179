package org.apache.spark.sql.graft.store

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.BitSet

/** Core of the `graftrow` mutable ROW store — the from-scratch analog of
  * the reference's row tables (reference: core/.../execution/row/
  * RowFormatRelation.scala:46 row-oriented mutable tables,
  * RowFormatScanRDD.scala:52 scans, SnappySession.createIndex:1760 key
  * index; GemFire region get = primary-key point lookup).
  *
  * Where the column store optimizes scans (encodings, batch stats), the
  * row store optimizes POINT ACCESS: rows are stored row-major in
  * immutable packs, each pack carrying a key→slot hash index built by the
  * writing task. A full-primary-key predicate never scans — planning
  * probes the index of the (bucket-routed) packs and emits just the
  * matching addresses (reference: PK lookups route to one bucket region
  * and do a region get).
  *
  * Layout mirrors [[GraftColumnStore]]'s executor-resident design:
  *  - pack payloads (rows + index) live in [[GraftRowStore.packs]], the
  *    shared [[PayloadTier]] instantiated for packs, written directly by
  *    tasks; commit messages and snapshots carry only
  *    [[GraftRowStore.PackRef]]s (ids + counts) — metadata, never data.
  *    On a cluster the registry maps to node-local bucket regions and the
  *    planning-time index probe becomes the routed get RPC.
  *  - a table is an immutable [[GraftRowStore.RowSnapshot]] swapped
  *    atomically: pack refs + per-pack tombstone bitmaps. EVERY mutation
  *    is tombstone + append (update = tombstone old version + append new),
  *    so packs and their indexes are never rewritten in place and a scan's
  *    captured snapshot stays consistent (snapshot isolation). With the
  *    primary-key invariant (at most one live row per key) enforced by the
  *    write paths, "latest version" needs no timestamps.
  */
object GraftRowStore extends TableRegistry {

  /** Equality/hash wrapper for a key tuple of internal values
    * (UTF8String/Long/... all hash structurally through the Seq).
    */
  final case class RowKey(values: Seq[Any])

  /** Row-pack payload: row-major rows plus (for keyed tables) a key→slot
    * index built once here, task-side — the store's B-tree analog, local
    * to the pack exactly like the reference's per-region indexes.
    */
  final class RowPack(
      val rows: Array[InternalRow],
      keyOrdinals: Array[Int],
      keyTypes: Array[DataType]) extends Serializable {
    // value type MUST be java.lang.Integer: with a Scala Int value type,
    // get() on a missing key returns null and unboxes to 0 — a phantom
    // match on slot 0
    val index: java.util.HashMap[RowKey, java.lang.Integer] =
      if (keyOrdinals.isEmpty) null
      else {
        val m = new java.util.HashMap[RowKey, java.lang.Integer](rows.length * 2)
        var i = 0
        while (i < rows.length) {
          m.put(keyOf(rows(i), keyOrdinals, keyTypes), Integer.valueOf(i))
          i += 1
        }
        m
      }
    def numRows: Int = rows.length
  }

  def keyOf(row: InternalRow, ordinals: Array[Int], types: Array[DataType]): RowKey = {
    val vs = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      vs(i) = row.get(ordinals(i), types(i))
      i += 1
    }
    RowKey(vs.toSeq)
  }

  /** Pack payloads (executor-resident; see class doc and [[PayloadTier]]):
    * under EVICTION_BY hot packs (the point-lookup working set) stay
    * resident by LRU and cold ones pay a disk read per access.
    */
  val packs = new PayloadTier[RowPack]("graftrow pack", "pack",
    p => org.apache.spark.util.SizeEstimator.estimate(p.rows))

  /** Metadata-only handle — what commits and snapshots carry. */
  final case class PackRef(id: Long, bucketId: Int, numRows: Int,
      createdAtMs: Long = 0L) extends PayloadRef with Serializable

  /** Secondary-index metadata (reference SnappySession.createIndex:1760 —
    * B-tree indexes on arbitrary row-table columns). Split by tier like
    * everything else in this store:
    *  - DRIVER-side: per-pack (min, max) of the indexed column — a few
    *    internal values per pack, so planning prunes whole packs from a
    *    range scan without touching data;
    *  - EXECUTOR-side: per-pack slot arrays sorted by the indexed column
    *    ([[SortedSlotRegistry]]), built lazily and memoized, so the
    *    in-pack range scan is a binary search + contiguous slice — the
    *    per-region sorted index of the reference, local to each pack.
    * Packs appended AFTER the index build have no stats entry: they are
    * never pruned (correct, just unoptimized) and their sorted arrays
    * materialize on first probe.
    */
  final case class IndexStats(column: String, packRange: Map[Long, (Any, Any)])

  /** Executor-resident sorted-slot arrays for secondary indexes. Packs
    * are immutable, so a (packId, column) entry never invalidates;
    * entries die with their pack's release.
    */
  object SortedSlotRegistry {
    private val cache = TrieMap.empty[(Long, String), (Array[Int], Int)]

    /** Slots of the pack ordered by the column (nulls LAST), plus the
      * count of non-null slots (searches clamp to it).
      */
    def sortedSlots(packId: Long, column: String, ordinal: Int,
        dt: DataType, knownRows: Option[Array[InternalRow]] = None): (Array[Int], Int) =
      cache.getOrElseUpdate((packId, column), {
        // caller-supplied rows avoid re-deserializing a spilled pack the
        // call site already fetched
        val rows = knownRows.getOrElse(packs(packId).rows)
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(dt)
        val (nonNull, nulls) =
          Array.range(0, rows.length).partition(s => !rows(s).isNullAt(ordinal))
        val sorted = nonNull.sortWith((a, b) =>
          ord.compare(rows(a).get(ordinal, dt), rows(b).get(ordinal, dt)) < 0)
        (sorted ++ nulls, sorted.length)
      })

    def release(packIds: Iterable[Long]): Unit = {
      val dead = packIds.toSet
      cache.keys.filter(k => dead(k._1)).foreach(cache.remove)
    }
  }

  final case class RowSnapshot(
      schema: StructType,
      keyColumns: Seq[String],
      bucketBy: Seq[String],
      numBuckets: Int,
      refs: Vector[PackRef],
      tombstones: Map[Long, BitSet],
      indexes: Map[String, IndexStats] = Map.empty,
      evictionBudget: Long = 0L,
      expireSeconds: Long = 0L) extends TableState[RowSnapshot, PackRef] {
    def withRefs(refs: Vector[PackRef]): RowSnapshot = copy(refs = refs)
    def withoutRefs(ids: Set[Long]): (RowSnapshot, Retirees) =
      (copy(refs = refs.filterNot(r => ids(r.id)), tombstones = tombstones -- ids),
        Retirees(refs.collect { case r if ids(r.id) => r.id }))
    def rowCount: Long =
      liveRefs.map(r => r.numRows.toLong - tombstones.get(r.id).map(_.size).getOrElse(0)).sum
    def keyOrdinals: Array[Int] = keyColumns.map(schema.fieldIndex).toArray
    def keyTypes: Array[DataType] =
      keyColumns.map(c => schema.fields(schema.fieldIndex(c)).dataType).toArray
    /** Live slot for a key among the given refs, probing pack indexes.
      * `resolved` lets a multi-key caller fetch each (possibly spilled)
      * pack once instead of per key.
      */
    def probe(key: RowKey, candidates: Seq[PackRef],
        resolved: Map[Long, RowPack] = Map.empty): Option[(Long, Int)] = {
      candidates.foreach { r =>
        val idx = resolved.getOrElse(r.id, packs(r.id)).index
        if (idx != null) {
          val slot = idx.get(key)
          if (slot != null && !tombstones.get(r.id).exists(_.contains(slot)))
            return Some((r.id, slot.intValue()))
        }
      }
      None
    }
  }

  final class RowTable(name: String, initial: RowSnapshot)
      extends SnapshotTable[RowSnapshot, PackRef](name, initial, packs) {
    protected def free(r: Retirees): Unit = {
      packs.release(r.payloads)
      SortedSlotRegistry.release(r.payloads)
    }

    /** Union tombstones in and append in one atomic swap (the upsert
      * commit); fully-dead packs drop off the ref list and RETIRE (their
      * payloads release one mutation later — without this, a streaming
      * sink upserting one state row per micro-batch leaked a pack per
      * batch for the JVM's lifetime).
      */
    def applyMutation(newTombstones: Map[Long, BitSet], newRefs: Seq[PackRef]): Unit = {
      mutateRetiring { s =>
        // tombstones staged against a pack that left the snapshot since
        // (expireSweep racing this commit) must not re-enter the map —
        // pack ids never recycle, so the entry would live forever
        val knownIds = s.refs.iterator.map(_.id).toSet ++
          newRefs.iterator.map(_.id)
        val merged = (s.tombstones.keySet ++ newTombstones.keySet)
          .filter(knownIds).map { id =>
          id -> (s.tombstones.getOrElse(id, BitSet.empty) |
            newTombstones.getOrElse(id, BitSet.empty))
        }.toMap
        val (deadRefs, live) = (s.refs ++ newRefs).partition(r =>
          merged.get(r.id).exists(_.size >= r.numRows))
        val dead = deadRefs.map(_.id)
        (s.copy(refs = live, tombstones = merged -- dead), Some(Retirees(dead)))
      }
      ()
    }
  }

  type T = RowTable
  def kind: String = "graftrow"

  /** Planning telemetry, asserted by specs: point lookups must probe
    * indexes, not scan.
    */
  val indexProbes = new AtomicLong(0)
  val packsScanned = new AtomicLong(0)
  /** Secondary-index range scans: packs pruned by stats at planning, and
    * packs actually binary-searched by tasks.
    */
  val rangePacksPruned = new AtomicLong(0)
  val rangePacksProbed = new AtomicLong(0)

  /** Register a table whose first snapshot is `initial`, replacing any
    * table of the name or else keeping an existing one.
    */
  def create(name: String, initial: RowSnapshot, replace: Boolean): RowTable = {
    import initial.{bucketBy, keyColumns}
    // the PK uniqueness check on INSERT/PUT probes only the row's own
    // bucket, which is sound ONLY when the key determines the bucket —
    // the same partitioning-column-within-PK rule the reference's
    // partitioned tables enforce. Reject the unsound layout at creation
    // instead of silently accepting cross-bucket duplicates later.
    require(keyColumns.isEmpty || bucketBy.isEmpty ||
        bucketBy.forall(keyColumns.contains),
      s"graftrow table $name: partition_by (${bucketBy.mkString(",")}) must be " +
        s"a subset of key_columns (${keyColumns.mkString(",")}) so the key " +
        "determines the bucket (per-bucket PK checks stay sound)")
    register(name, new RowTable(name, initial), replace)
  }

  /** Rows per sealed pack. */
  val PACK_SIZE = 32768

  /** A writer task's pack sealer (the DSv2 write and the put task):
    * seals a [[RowPack]] into [[packs]] every [[PACK_SIZE]] rows; a
    * failed task releases what it sealed through [[abort]].
    */
  final class PackSealer(keyOrdinals: Array[Int], keyTypes: Array[DataType], bucketId: Int) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    private val refs = scala.collection.mutable.ArrayBuffer.empty[PackRef]

    /** Buffer `row`, which the caller no longer mutates (a copy). */
    def add(row: InternalRow): Unit = {
      buf += row
      if (buf.length >= PACK_SIZE) seal()
    }

    private def seal(): Unit = if (buf.nonEmpty) {
      val pack = new RowPack(buf.toArray, keyOrdinals, keyTypes)
      refs += PackRef(packs.put(pack), bucketId, pack.numRows, createdAtMs = StoreClock.nowMs)
      buf.clear()
    }

    /** Seal the tail; the refs of every pack sealed. */
    def result(): Seq[PackRef] = { seal(); refs.toSeq }

    def abort(): Unit = {
      packs.release(refs.map(_.id))
      refs.clear()
      buf.clear()
    }
  }
}
