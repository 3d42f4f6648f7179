package org.apache.spark.sql.graft.store

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, ObjectInputStream, ObjectOutputStream, OutputStream}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import net.jpountz.lz4.{LZ4BlockInputStream, LZ4BlockOutputStream}

import scala.collection.concurrent.TrieMap

/** The one at-rest codec of both stores: Java serialization deflated
  * through an LZ4 block stream. Spill files and LZ4-compressed sealed
  * columns ([[GraftColumnStore.CompressedColumn]]) both use it.
  */
object Lz4Serde {
  def write(obj: AnyRef, sink: OutputStream): Unit = {
    val out = new ObjectOutputStream(new LZ4BlockOutputStream(sink))
    try out.writeObject(obj) finally out.close()
  }

  def read[T](source: InputStream): T = {
    val in = new ObjectInputStream(new LZ4BlockInputStream(source))
    try in.readObject().asInstanceOf[T] finally in.close()
  }

  def toBytes(obj: AnyRef): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    write(obj, bos)
    bos.toByteArray
  }

  def fromBytes[T](bytes: Array[Byte]): T = read[T](new ByteArrayInputStream(bytes))
}

/** Spill-directory lifecycle of the payload tiers.
  *
  * `File.deleteOnExit` cannot remove a non-empty directory, and spill
  * files are created AFTER registration — so the directory registers a
  * shutdown hook that sweeps whatever is still live at exit (in-flight
  * deletes stay eager on release/drop paths).
  */
private[store] object SpillSweep {

  /** A fresh temp directory whose contents are swept by a JVM shutdown
    * hook. If the JVM is already shutting down when the (lazy) first
    * spill happens, the hook cannot register — the files then outlive
    * this run like any temp file, which is the pre-existing worst case.
    */
  def registeredTempDir(prefix: String, threadName: String): Path = {
    val d = Files.createTempDirectory(prefix)
    try {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          val files = Files.list(d)
          try files.forEach(p => Files.deleteIfExists(p))
          finally files.close()
          Files.deleteIfExists(d)
        } catch { case _: Throwable => () }
      }, threadName))
    } catch { case _: IllegalStateException => () /* already shutting down */ }
    d
  }
}

/** Process-wide payload tier, one instance per payload kind: the column
  * store's sealed batches and the row store's packs. Written directly by
  * writer/mutation TASKS (executor-resident), read by scan tasks; only
  * ids cross the driver. On a real cluster this is the node-local store.
  *
  * Disk tier (EVICTION_BY 'LRUMEMSIZE n' + OVERFLOW 'true', reference
  * StoreUtils.scala:42-58 / GemFire LRU-overflow regions): spilled
  * payloads live as [[Lz4Serde]] files and an access reloads a TRANSIENT
  * copy (not re-cached — a reload that re-entered the resident tier would
  * thrash against the budget it was evicted for). Sizes and access ticks
  * are metadata, so planning (estimateStatistics) and the LRU policy never
  * touch payloads. Sizes are computed lazily and memoized (payloads are
  * immutable).
  *
  * @param kind       payload name used in errors ("graftstore batch")
  * @param filePrefix spill file name prefix; ids are unique per tier only
  * @param sizeOf     in-heap size estimate of one payload
  * @param ids        id source; a store that keeps other payloads (deltas,
  *                   bitmaps) in the same id space passes its own
  */
final class PayloadTier[P <: AnyRef](kind: String, filePrefix: String,
    sizeOf: P => Long, ids: AtomicLong = new AtomicLong(0)) {
  private val resident = TrieMap.empty[Long, P]
  private val spilledFiles = TrieMap.empty[Long, Path]
  private val sizes = TrieMap.empty[Long, Long]
  private val accessTick = new AtomicLong
  private val lastAccess = TrieMap.empty[Long, Long]

  def put(p: P): Long = {
    val id = ids.incrementAndGet()
    resident.put(id, p)
    // sizes stay LAZY (see sizeBytes) — a size fold on seal would tax
    // every ingest for a statistic only planning and eviction ask for
    lastAccess.put(id, accessTick.incrementAndGet())
    id
  }

  /** The payload, faulting a spilled one back TRANSIENTLY. Per-row loops
    * must hoist this (or use [[resolve]]): a spilled payload deserializes
    * on every call.
    */
  def apply(id: Long): P = {
    // touch AFTER the hit — a blind put racing a release would leave a
    // permanent lastAccess entry for a dead id (the residual
    // hit-then-release window leaks one long per race; bounded by
    // concurrent scans, negligible)
    resident.get(id) match {
      case Some(p) =>
        lastAccess.put(id, accessTick.incrementAndGet())
        p
      case None => spilledFiles.get(id) match {
        case Some(path) =>
          lastAccess.put(id, accessTick.incrementAndGet())
          Lz4Serde.read[P](Files.newInputStream(path))
        case None =>
          throw new IllegalStateException(s"$kind payload missing: $id")
      }
    }
  }

  /** Fetch a set of payloads ONCE for a task-scoped loop. */
  def resolve(ids: Iterable[Long]): Map[Long, P] = ids.map(id => id -> apply(id)).toMap

  /** Resident-tier peek: no spill reload, no LRU touch — for plan-time
    * heuristics that must never perturb the tier they inspect.
    */
  def residentPayload(id: Long): Option[P] = resident.get(id)

  def isResident(id: Long): Boolean = resident.contains(id)

  /** Payloads held, resident or spilled. */
  def count: Int = resident.size + spilledFiles.size

  /** Resident (heap) payload size; 0 once spilled. */
  def residentBytes(id: Long): Long = if (resident.contains(id)) sizeBytes(id) else 0L

  /** Size metadata, computed on first ask and memoized; spilled payloads
    * keep their last resident size so planning never faults them in.
    */
  def sizeBytes(id: Long): Long = sizes.get(id) match {
    case Some(s) => s
    case None =>
      resident.get(id) match {
        case Some(p) =>
          val s = sizeOf(p)
          sizes.put(id, s)
          s
        case None => 0L
      }
  }

  /** Move one resident payload to the disk tier (no-op if already there
    * or unknown). Synchronized so two concurrent evictions of the same id
    * don't double-write, and so a racing [[release]] cannot interleave.
    */
  def spill(id: Long): Unit = synchronized {
    resident.get(id).foreach { p =>
      sizes.put(id, sizeBytes(id)) // pin (memoized) size before the payload leaves heap
      val path = PayloadTier.spillDir.resolve(s"$filePrefix-$id.lz4")
      Lz4Serde.write(p, Files.newOutputStream(path))
      spilledFiles.put(id, path)
      resident.remove(id)
    }
  }

  /** LRU eviction: spill least-recently-accessed resident payloads from
    * `ids` until their resident total is ≤ `budgetBytes`.
    */
  def enforceBudget(ids: Seq[Long], budgetBytes: Long): Unit = {
    var total = ids.map(residentBytes).sum
    if (total <= budgetBytes) return
    val lru = ids.filter(isResident).sortBy(id => lastAccess.getOrElse(id, 0L))
    var i = 0
    while (total > budgetBytes && i < lru.length) {
      val id = lru(i)
      val sz = residentBytes(id)
      spill(id)
      total -= sz
      i += 1
    }
  }

  // synchronized WITH spill(): an unsynchronized release racing a spill
  // could interleave after spill's payload read but before its
  // spilledFiles.put, resurrecting a file entry for a released id (disk
  // leak + apply(id) silently serving a dead payload)
  def release(ids: Iterable[Long]): Unit = synchronized {
    ids.foreach { id =>
      resident.remove(id)
      sizes.remove(id)
      lastAccess.remove(id)
      spilledFiles.remove(id).foreach(p => Files.deleteIfExists(p))
    }
  }
}

object PayloadTier {
  // one directory for every tier; file prefixes keep the id spaces apart
  private lazy val spillDir =
    SpillSweep.registeredTempDir("graft-overflow-", "graft-spill-sweep")
}
