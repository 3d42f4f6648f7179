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
  *  - pack payloads (rows + index) live in [[GraftRowStore.PackRegistry]],
  *    written directly by tasks; commit messages and snapshots carry only
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
object GraftRowStore {

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

  /** Process-wide payload tier (executor-resident; see class doc).
    * Carries the same LRU disk-overflow tier as the column store's
    * BatchRegistry (EVICTION_BY 'LRUMEMSIZE n' + OVERFLOW 'true'): spilled
    * packs live as LZ4-deflated serialized files and fault back
    * TRANSIENTLY per access — hot packs (point-lookup working set) stay
    * resident by LRU, cold ones pay a disk read. Sizes are estimated
    * lazily and memoized (packs are immutable).
    */
  object PackRegistry {
    private val nextId = new AtomicLong(0)
    private val packs = TrieMap.empty[Long, RowPack]
    private val spilledFiles = TrieMap.empty[Long, java.nio.file.Path]
    private val packSizes = TrieMap.empty[Long, Long]
    private val accessTick = new AtomicLong
    private val lastAccess = TrieMap.empty[Long, Long]
    private lazy val spillDir =
      SpillSweep.registeredTempDir("graft-row-overflow-", "graft-row-spill-sweep")

    def put(p: RowPack): Long = {
      val id = nextId.incrementAndGet()
      packs.put(id, p)
      lastAccess.put(id, accessTick.incrementAndGet())
      id
    }
    def pack(id: Long): RowPack = {
      // touch AFTER the hit (see BatchRegistry.batch) — and note per-ROW
      // probe loops must hoist pack() out of the loop (a spilled pack
      // deserializes per call); see resolvePacks below
      packs.get(id) match {
        case Some(p) =>
          lastAccess.put(id, accessTick.incrementAndGet())
          p
        case None => spilledFiles.get(id) match {
          case Some(path) =>
            lastAccess.put(id, accessTick.incrementAndGet())
            val in = new java.io.ObjectInputStream(new net.jpountz.lz4.LZ4BlockInputStream(
              java.nio.file.Files.newInputStream(path)))
            try in.readObject().asInstanceOf[RowPack] finally in.close()
          case None =>
            throw new IllegalStateException(s"graftrow pack payload missing: $id")
        }
      }
    }
    /** Fetch a set of packs ONCE for a task-scoped loop: per-row probe
      * loops must not call [[pack]] per row — a spilled pack would
      * deserialize from disk on every call.
      */
    def resolvePacks(ids: Iterable[Long]): Map[Long, RowPack] =
      ids.map(id => id -> pack(id)).toMap
    def isResident(id: Long): Boolean = packs.contains(id)
    def residentBytes(id: Long): Long =
      if (packs.contains(id)) sizeBytes(id) else 0L
    def sizeBytes(id: Long): Long = packSizes.get(id) match {
      case Some(s) => s
      case None =>
        packs.get(id) match {
          case Some(p) =>
            val s = org.apache.spark.util.SizeEstimator.estimate(p.rows)
            packSizes.put(id, s)
            s
          case None => 0L
        }
    }
    def spill(id: Long): Unit = synchronized {
      packs.get(id).foreach { p =>
        packSizes.put(id, sizeBytes(id)) // pin before the payload leaves heap
        val path = spillDir.resolve(s"pack-$id.lz4")
        val out = new java.io.ObjectOutputStream(new net.jpountz.lz4.LZ4BlockOutputStream(
          java.nio.file.Files.newOutputStream(path)))
        try out.writeObject(p) finally out.close()
        spilledFiles.put(id, path)
        packs.remove(id)
      }
    }
    /** LRU eviction over `ids` until resident total ≤ `budgetBytes`. */
    def enforceBudget(ids: Seq[Long], budgetBytes: Long): Unit = {
      var resident = ids.map(residentBytes).sum
      if (resident <= budgetBytes) return
      val lru = ids.filter(isResident).sortBy(id => lastAccess.getOrElse(id, 0L))
      var i = 0
      while (resident > budgetBytes && i < lru.length) {
        val id = lru(i)
        val sz = residentBytes(id)
        spill(id)
        resident -= sz
        i += 1
      }
    }
    // synchronized WITH spill() — see BatchRegistry.release
    def release(ids: Iterable[Long]): Unit = synchronized {
      ids.foreach { id =>
        packs.remove(id)
        packSizes.remove(id)
        lastAccess.remove(id)
        spilledFiles.remove(id).foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  /** Metadata-only handle — what commits and snapshots carry. */
  /** `createdAtMs`: pack seal wall-clock — EXPIRE's age reference (see
    * the column store's BatchRef analog).
    */
  final case class PackRef(id: Long, bucketId: Int, numRows: Int,
      createdAtMs: Long = 0L) extends Serializable

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
        val rows = knownRows.getOrElse(PackRegistry.pack(packId).rows)
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
      expireSeconds: Long = 0L) {
    /** Pack-granularity TTL (EXPIRE, reference row-region timeToLive):
      * a pack expires once its NEWEST row exceeds the TTL.
      */
    def isExpired(ref: PackRef, nowMs: Long): Boolean =
      expireSeconds > 0 && ref.createdAtMs > 0 &&
        nowMs - ref.createdAtMs > expireSeconds * 1000L
    /** Packs with rows inside the TTL — what every read/mutation-
      * addressing path enumerates (expired rows are invisible, so they
      * can be neither scanned, point-looked-up, updated nor deleted).
      */
    def liveRefs: Vector[PackRef] =
      if (expireSeconds <= 0) refs
      else { val now = StoreClock.nowMs; refs.filterNot(isExpired(_, now)) }
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
        val idx = resolved.getOrElse(r.id, PackRegistry.pack(r.id)).index
        if (idx != null) {
          val slot = idx.get(key)
          if (slot != null && !tombstones.get(r.id).exists(_.contains(slot)))
            return Some((r.id, slot.intValue()))
        }
      }
      None
    }
  }

  final class RowTable(val name: String, initial: RowSnapshot) {
    @volatile private var current: RowSnapshot = initial
    def snapshot: RowSnapshot = current
    def schema: StructType = current.schema

    // Reader-lease payload GC (see [[LeaseGc]] and the column-store
    // analog): superseded packs stay resolvable while any scan pinned to
    // an older snapshot is still reachable.
    private val gc = new LeaseGc[Seq[Long]](packs => {
      PackRegistry.release(packs)
      SortedSlotRegistry.release(packs)
    })

    def pinSnapshot(): (RowSnapshot, Long) = synchronized { (current, gc.pin()) }
    def addLeaseOwner(leaseId: Long, owner: AnyRef): Unit = gc.addOwner(leaseId, owner)
    def gcStats: (Int, Int) = gc.stats

    def mutate(f: RowSnapshot => RowSnapshot): RowSnapshot =
      mutateRetiring { s => (f(s), None) }

    /** Snapshot swap + retiree recording in one critical section. Every
      * swap re-enforces the LRU-overflow budget (no-op when disabled) so
      * appends, upserts and tombstone merges all keep the resident set
      * within EVICTION_BY's cap.
      */
    def mutateRetiring(
        f: RowSnapshot => (RowSnapshot, Option[Seq[Long]])): RowSnapshot = synchronized {
      val (next, retirees) = f(current)
      current = next
      gc.onSwap(retirees.filterNot(_.isEmpty))
      if (next.evictionBudget > 0L) {
        PackRegistry.enforceBudget(next.refs.map(_.id), next.evictionBudget)
      }
      next
    }

    def appendRefs(newRefs: Seq[PackRef]): Unit =
      mutate(s => s.copy(refs = s.refs ++ newRefs))

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
        (s.copy(refs = live, tombstones = merged -- dead), Some(dead))
      }
      ()
    }

    /** EXPIRE maintenance: drop packs whose TTL has fully passed — one
      * atomic swap retiring the packs and their tombstones (payloads
      * free via the reader-lease GC). Scans already hide expired packs;
      * this reclaims the memory. Returns packs retired.
      */
    def expireSweep(): Int = {
      var removed = 0
      mutateRetiring { s =>
        if (s.expireSeconds <= 0) (s, None)
        else {
          val now = StoreClock.nowMs
          val (dead, live) = s.refs.partition(s.isExpired(_, now))
          if (dead.isEmpty) (s, None)
          else {
            removed = dead.size
            (s.copy(refs = live, tombstones = s.tombstones -- dead.map(_.id)),
              Some(dead.map(_.id)))
          }
        }
      }
      removed
    }

    /** Replace all content (compaction / truncate-write); the previous
      * snapshot's packs retire.
      */
    def replaceRefs(newRefs: Vector[PackRef],
        newSchema: Option[StructType] = None,
        newLayout: Option[(Seq[String], Seq[String], Int)] = None): Unit = {
      mutateRetiring { s =>
        // schema and (possibly renamed) key/bucket columns ride the same
        // swap as the refs — see the column-store truncate commit
        (s.copy(schema = newSchema.getOrElse(s.schema),
          keyColumns = newLayout.map(_._1).getOrElse(s.keyColumns),
          bucketBy = newLayout.map(_._2).getOrElse(s.bucketBy),
          numBuckets = newLayout.map(_._3).getOrElse(s.numBuckets),
          refs = newRefs,
          tombstones = Map.empty), Some(s.refs.map(_.id)))
      }
      ()
    }

    private[store] def flushRetired(): Unit = gc.flushAll()
  }

  private val tables = TrieMap.empty[String, RowTable]

  /** Planning telemetry, asserted by specs: point lookups must probe
    * indexes, not scan.
    */
  val indexProbes = new AtomicLong(0)
  /** Key lookups (row or column store) answered on the calling thread by
    * [[LocalLookupExec]], without a Spark job.
    */
  val localLookups = new AtomicLong(0)
  val packsScanned = new AtomicLong(0)
  /** Secondary-index range scans: packs pruned by stats at planning, and
    * packs actually binary-searched by tasks.
    */
  val rangePacksPruned = new AtomicLong(0)
  val rangePacksProbed = new AtomicLong(0)

  def createOrReplace(name: String, schema: StructType, keyColumns: Seq[String],
      bucketBy: Seq[String], numBuckets: Int): RowTable = {
    tables.remove(name).foreach(releaseAll)
    val t = new RowTable(name,
      RowSnapshot(schema, keyColumns, bucketBy, numBuckets, Vector.empty, Map.empty))
    tables.put(name, t)
    t
  }

  def getOrCreate(name: String, schema: StructType, keyColumns: Seq[String],
      bucketBy: Seq[String], numBuckets: Int): RowTable = {
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
    tables.getOrElseUpdate(name, new RowTable(name,
      RowSnapshot(schema, keyColumns, bucketBy, numBuckets, Vector.empty, Map.empty)))
  }

  def get(name: String): Option[RowTable] = tables.get(name)

  def apply(name: String): RowTable = get(name).getOrElse(
    throw new IllegalArgumentException(s"graftrow table not found: $name"))

  def tableNames: Seq[String] = tables.keys.toSeq.sorted

  def drop(name: String): Unit = {
    ReplicaGuard.clear(name) // see GraftColumnStore.drop
    tables.remove(name).foreach(releaseAll)
  }

  private def releaseAll(t: RowTable): Unit = {
    t.flushRetired()
    PackRegistry.release(t.snapshot.refs.map(_.id))
    SortedSlotRegistry.release(t.snapshot.refs.map(_.id))
  }
}
