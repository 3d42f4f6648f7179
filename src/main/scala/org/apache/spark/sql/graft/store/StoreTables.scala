package org.apache.spark.sql.graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.concurrent.TrieMap

/** Table lifecycle shared by the column and row stores: the metadata
  * handle a snapshot keeps per payload, the snapshot-swap holder with its
  * reader-lease GC, the name → table registry, the layout both stores
  * resolve from write options, and the layout-preserving ALTER rewrite.
  * Each store supplies its payload tier, its snapshot type and its own
  * mutations; nothing here knows which store it serves (SnappyData keeps
  * row and column tables on one region layer the same way).
  */

/** Metadata-only handle to one payload in a [[PayloadTier]] — what
  * commit messages and snapshots carry. `createdAtMs` is the seal
  * wall-clock EXPIRE ages against.
  */
trait PayloadRef {
  def id: Long
  def createdAtMs: Long
}

/** Payload ids superseded by one snapshot swap: the tier's payloads plus,
  * on the column store, update deltas and delete bitmaps.
  */
final case class Retirees(payloads: Seq[Long], deltas: Seq[Long] = Nil,
    bitmaps: Seq[Long] = Nil) {
  def isEmpty: Boolean = payloads.isEmpty && deltas.isEmpty && bitmaps.isEmpty
}

/** What the shared holder, registry and rewrite need from a store's
  * immutable table snapshot.
  */
trait TableState[S, Ref <: PayloadRef] {
  def schema: StructType
  def keyColumns: Seq[String]
  def bucketBy: Seq[String]
  def numBuckets: Int
  def refs: Vector[Ref]
  /** EVICTION_BY 'LRUMEMSIZE n' resident cap in bytes; 0 = no disk tier. */
  def evictionBudget: Long
  /** EXPIRE time-to-live in seconds; 0 = no expiry. */
  def expireSeconds: Long

  def withRefs(refs: Vector[Ref]): S
  /** This snapshot without the refs `ids` and the state attached to them;
    * the second half is what the removal retires.
    */
  def withoutRefs(ids: Set[Long]): (S, Retirees)

  /** Seal-granularity TTL check: true once every row of the payload is
    * older than the table's time-to-live.
    */
  def isExpired(ref: PayloadRef, nowMs: Long): Boolean =
    expireSeconds > 0 && ref.createdAtMs > 0 &&
      nowMs - ref.createdAtMs > expireSeconds * 1000L
  /** Refs with at least one row inside the TTL — what every read and
    * mutation-addressing path enumerates. One clock read per call, so a
    * single planning sees one consistent cut.
    */
  def liveRefs: Vector[Ref] =
    if (expireSeconds <= 0) refs
    else { val now = StoreClock.nowMs; refs.filterNot(isExpired(_, now)) }
}

/** One store table: an immutable snapshot swapped atomically under the
  * table lock, with reader-lease payload GC (see [[LeaseGc]]): payloads
  * superseded by a swap stay resolvable while any scan pinned to an older
  * snapshot is still reachable (a physical plan is multi-execution, so
  * lease lifetime is reachability of the Scan/reader factory, not a count
  * of one execution's reader closes).
  *
  * Every swap re-enforces the table's LRU-overflow budget when it has one,
  * so appends, upserts, rewrites and budget changes all keep the resident
  * set within EVICTION_BY's cap.
  */
abstract class SnapshotTable[S <: TableState[S, Ref], Ref <: PayloadRef](
    val name: String, initial: S, tier: PayloadTier[_]) {
  @volatile private var current: S = initial
  def snapshot: S = current
  def schema: StructType = current.schema

  /** Release a retiree set's payloads from their registries. */
  protected def free(r: Retirees): Unit

  private val gc = new LeaseGc[Retirees](free)

  /** Atomically capture the snapshot AND open a reader lease at its
    * epoch — scans call this once, then register themselves (and their
    * reader factory) via [[addLeaseOwner]]; the lease drops when every
    * owner is unreachable.
    */
  def pinSnapshot(): (S, Long) = synchronized { (current, gc.pin()) }
  def addLeaseOwner(leaseId: Long, owner: AnyRef): Unit = gc.addOwner(leaseId, owner)
  /** (live leases, pending retiree sets) — spec telemetry. */
  def gcStats: (Int, Int) = gc.stats

  def mutate(f: S => S): S = mutateRetiring { s => (f(s), None) }

  /** Snapshot swap + retiree recording in ONE critical section: two
    * concurrent commits can never interleave swap and retire.
    */
  def mutateRetiring(f: S => (S, Option[Retirees])): S = synchronized {
    val (next, retirees) = f(current)
    current = next
    gc.onSwap(retirees.filterNot(_.isEmpty))
    if (next.evictionBudget > 0L)
      tier.enforceBudget(next.refs.map(_.id), next.evictionBudget)
    next
  }

  def appendRefs(newRefs: Seq[Ref]): Unit =
    mutate(s => s.withRefs(s.refs ++ newRefs))

  /** Replace all content (compaction / truncate-write / ALTER rewrite) in
    * ONE swap; the entire previous snapshot's payloads retire. `reshape`
    * carries layout that rides the same swap (a rewrite's schema and
    * renamed key/bucket columns), so readers see full-old or full-new.
    */
  def replaceRefs(newRefs: Vector[Ref], reshape: S => S = (s: S) => s): Unit = {
    mutateRetiring { s =>
      val (empty, retirees) = s.withoutRefs(s.refs.map(_.id).toSet)
      (reshape(empty.withRefs(newRefs)), Some(retirees))
    }
    ()
  }

  /** EXPIRE maintenance: drop every payload whose TTL has fully passed —
    * one atomic swap retiring it and its attached state (payloads free
    * via the reader-lease GC). Scans already hide expired payloads; this
    * reclaims the memory. Runs on every write commit and on demand.
    * Returns the number of payloads retired.
    */
  def expireSweep(): Int = {
    var removed = 0
    mutateRetiring { s =>
      val now = StoreClock.nowMs
      val dead = if (s.expireSeconds <= 0) Set.empty[Long]
        else s.refs.iterator.filter(s.isExpired(_, now)).map(_.id).toSet
      if (dead.isEmpty) (s, None)
      else {
        removed = dead.size
        val (next, retirees) = s.withoutRefs(dead)
        (next, Some(retirees))
      }
    }
    removed
  }

  /** Free everything now (table drop / replace). */
  private[store] def releaseAll(): Unit = {
    gc.flushAll()
    free(current.withoutRefs(current.refs.map(_.id).toSet)._2)
  }
}

/** Name → table registry of one store. */
trait TableRegistry {
  type T <: SnapshotTable[_, _ <: PayloadRef]
  /** Store name used in errors ("graftstore"). */
  protected def kind: String

  private val tables = TrieMap.empty[String, T]

  /** Engine metadata keyed by table name (not snapshot layout) that a
    * drop or a replacement must not inherit.
    */
  protected def forget(name: String): Unit = ()

  protected def getOrRegister(name: String, make: => T): T =
    tables.getOrElseUpdate(name, make)

  protected def replace(name: String, t: T): T = {
    forget(name)
    tables.remove(name).foreach(_.releaseAll())
    tables.put(name, t)
    t
  }

  def get(name: String): Option[T] = tables.get(name)

  def apply(name: String): T = get(name).getOrElse(
    throw new IllegalArgumentException(s"$kind table not found: $name"))

  def tableNames: Seq[String] = tables.keys.toSeq.sorted

  def drop(name: String): Unit = {
    forget(name)
    // dropping a replica releases its read-only status with it (the
    // next owner of the name — CREATE, restore — starts writable)
    ReplicaGuard.clear(name)
    tables.remove(name).foreach(_.releaseAll())
  }
}

/** The layout both stores resolve from write options. */
final case class BaseLayout(keyColumns: Seq[String], bucketBy: Seq[String],
    numBuckets: Int, evictionBudget: Long, expireSeconds: Long)

object BaseLayout {
  def columnList(v: String): Seq[String] = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def fromOptions(kind: String, existing: Option[TableState[_, _ <: PayloadRef]],
      props: Map[String, String]): BaseLayout = {
    // an existing table's physical layout wins over (stale) options —
    // EXCEPT under an ALTER-style rewrite (`relayout`), which must be
    // able to commit a layout whose column NAMES changed (RENAME of a
    // key/bucket column): there the explicit options win
    val relayout = props.get("relayout").exists(_.toBoolean)
    def layout[A](option: Option[A], old: TableState[_, _ <: PayloadRef] => A, default: A): A =
      (if (relayout) option.orElse(existing.map(old))
      else existing.map(old).orElse(option)).getOrElse(default)
    // budget and TTL are tunables: an explicit option always wins
    def tunable(key: String, old: TableState[_, _ <: PayloadRef] => Long): Long =
      props.get(key).map(_.toLong).orElse(existing.map(old)).getOrElse(0L)
    val expireSeconds = tunable("expire_seconds", _.expireSeconds)
    require(expireSeconds >= 0,
      s"$kind: expire_seconds must be >= 0, got $expireSeconds")
    BaseLayout(
      layout(props.get("key_columns").map(columnList), _.keyColumns, Nil),
      layout(props.get("partition_by").map(columnList), _.bucketBy, Nil),
      layout(props.get("buckets").map(_.toInt), _.numBuckets, 0),
      // LRU-overflow budget (EVICTION_BY 'LRUMEMSIZE n' + OVERFLOW 'true')
      tunable("eviction_budget_bytes", _.evictionBudget),
      expireSeconds)
  }
}

/** A layout-preserving rewrite's view of column names: RENAME COLUMN
  * travels as an explicit old → new map so layout metadata (keys,
  * buckets, sketch set, indexes) FOLLOWS the renamed column instead of
  * silently dropping off the layout when its old name disappears.
  * `columns` are the rewritten frame's.
  */
final case class Relayout(renames: Map[String, String], columns: Seq[String]) {
  def follow(c: String): String = renames.collectFirst {
    case (from, to) if from.equalsIgnoreCase(c) => to
  }.getOrElse(c)
  /** `cols` renamed, minus those the rewrite dropped. */
  def surviving(cols: Seq[String]): Seq[String] = cols.map(follow).filter(columns.contains)
}

/** Table operations written once for both stores. */
trait StoreOps[S <: TableState[S, _ <: PayloadRef]] {
  val FORMAT: String

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format(FORMAT).option("table", table).load()

  protected def snapshotOf(table: String): S
  /** Store-only layout options a rewrite must carry (the column store's
    * batch size, codec and sketch set).
    */
  protected def rewriteOptions(snap: S, r: Relayout): Seq[(String, String)] = Nil
  /** Store-only work after a rewrite commits (the row store's index
    * rebuild).
    */
  protected def afterRewrite(spark: SparkSession, table: String, snap: S,
      r: Relayout): Unit = ()

  /** ALTER-style rewrite that PRESERVES the physical layout — buckets,
    * keys, eviction budget, TTL and the store's own options (minus any
    * dropped column, passed EXPLICITLY so a stale entry cannot linger in
    * the inherited layout). The naive rebuild-through-createTable reset
    * all of these to defaults. Clustering (sort/zorder) is physical row
    * order the rewrite destroys — re-run CREATE INDEX / OPTIMIZE ZORDER
    * afterwards.
    */
  def alterRewrite(spark: SparkSession, table: String,
      transform: DataFrame => DataFrame,
      renames: Map[String, String] = Map.empty): Unit =
    relayoutRewrite(spark, table, transform, renames, None)

  /** ALTER TABLE t REBUCKET n [BY (cols)]: re-hash a live table into a
    * new bucket count (and optionally new bucket columns) in ONE atomic
    * layout-changing rewrite — everything else survives. This is the
    * co-location remedy the SPJ bucket-count matrix demands (PERF_NOTES
    * §18): two tables bucketed on the same key but DIFFERENT counts
    * forfeit the storage-partitioned join entirely, so re-align one side
    * once and every later join/aggregation on the key plans
    * exchange-free. NOTE: a table that others COLOCATE_WITH must keep its
    * partners aligned — rebucket them together.
    */
  def rebucket(spark: SparkSession, table: String, buckets: Int,
      bucketBy: Seq[String] = Nil): Unit = {
    val snap = snapshotOf(table)
    val cols = if (bucketBy.nonEmpty) bucketBy else snap.bucketBy
    require(cols.nonEmpty,
      s"rebucket($table): table is unbucketed — name the bucket columns (BY (cols))")
    require(buckets > 0, s"rebucket($table): buckets must be > 0, got $buckets")
    cols.foreach(c => require(snap.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"rebucket($table): no such column $c"))
    relayoutRewrite(spark, table, identity, Map.empty, Some((cols, buckets)))
  }

  private def relayoutRewrite(spark: SparkSession, table: String,
      transform: DataFrame => DataFrame,
      renames: Map[String, String],
      rebucketTo: Option[(Seq[String], Int)]): Unit = {
    org.apache.spark.sql.graft.GrantRegistry.check(table, "ALTER")
    val snap = snapshotOf(table)
    val next = transform(read(spark, table))
    val r = Relayout(renames, next.columns.toSeq)
    val keyColumns = snap.keyColumns.map(r.follow)
    val bucketBy = rebucketTo.map(_._1).getOrElse(snap.bucketBy.map(r.follow))
    val numBuckets = rebucketTo.map(_._2).getOrElse(snap.numBuckets)
    (keyColumns ++ bucketBy).foreach(c =>
      require(next.columns.contains(c),
        s"alter($table) cannot drop key/bucket column $c"))
    // validate the NEW shape before any mutation: a failure below this
    // point must leave the table exactly as it was
    next.schema.fields.foreach(f =>
      require(GraftColumnStore.supportsType(f.dataType),
        s"alter($table): column ${f.name} has unsupported type ${f.dataType}"))
    // materialize first — the transformed plan reads the table; the
    // commit then swaps refs AND schema atomically (truncate-overwrite,
    // same full-old-or-full-new guarantee as compact; like compact, a
    // commit landing between this read and the overwrite is superseded)
    val frozen = next.localCheckpoint(true)
    try {
      var w = frozen.write.format(FORMAT).option("table", table)
        // relayout: the options below must WIN over the existing layout
        // (a rename changes the key/bucket column names it commits)
        .option("relayout", "true")
        .option("eviction_budget_bytes", snap.evictionBudget.toString)
        .option("expire_seconds", snap.expireSeconds.toString)
        .options(rewriteOptions(snap, r).toMap)
      if (keyColumns.nonEmpty)
        w = w.option("key_columns", keyColumns.mkString(","))
      if (bucketBy.nonEmpty)
        w = w.option("partition_by", bucketBy.mkString(","))
          .option("buckets", numBuckets.toString)
      w.mode("overwrite").save()
    } finally graft.operators.CheckpointScope.unpersist(frozen)
    afterRewrite(spark, table, snap, r)
  }
}
