package org.apache.spark.sql.graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.concurrent.TrieMap

/** Table lifecycle shared by the column and row stores: the metadata
  * handle a snapshot keeps per payload, the snapshot-swap holder with its
  * reader-lease GC, the name → table registry, the one layout resolver,
  * the DSv2 write commit, the layout-preserving ALTER rewrite, and
  * checkpoint / restore through one layout manifest.
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
  /** Visible rows of the live refs. */
  def rowCount: Long

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
  /** Store name used in errors and DSv2 table names ("graftstore"). */
  def kind: String

  private val tables = TrieMap.empty[String, T]

  /** Engine metadata keyed by table name (not snapshot layout) that a
    * drop or a replacement must not inherit.
    */
  protected def forget(name: String): Unit = ()

  /** `make` under `name`: replacing (and releasing) any table of the
    * name, or else keeping an existing one.
    */
  private[store] def register(name: String, make: => T, replace: Boolean): T =
    if (!replace) tables.getOrElseUpdate(name, make)
    else {
      forget(name)
      tables.remove(name).foreach(_.releaseAll())
      val t = make
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
    numBuckets: Int, evictionBudget: Long, expireSeconds: Long) {
  def bucketed: Boolean = bucketBy.nonEmpty && numBuckets > 0
}

object BaseLayout {
  def columnList(v: String): Seq[String] = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def of(s: TableState[_, _ <: PayloadRef]): BaseLayout =
    BaseLayout(s.keyColumns, s.bucketBy, s.numBuckets, s.evictionBudget, s.expireSeconds)

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
    val l = BaseLayout(
      layout(props.get("key_columns").map(columnList), _.keyColumns, Nil),
      layout(props.get("partition_by").map(columnList), _.bucketBy, Nil),
      layout(props.get("buckets").map(_.toInt), _.numBuckets, 0),
      // LRU-overflow budget (EVICTION_BY 'LRUMEMSIZE n' + OVERFLOW 'true')
      tunable("eviction_budget_bytes", _.evictionBudget),
      tunable("expire_seconds", _.expireSeconds))
    require(l.expireSeconds >= 0,
      s"$kind: expire_seconds must be >= 0, got ${l.expireSeconds}")
    require(l.evictionBudget >= 0,
      s"$kind: eviction_budget_bytes must be >= 0, got ${l.evictionBudget}")
    l
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

/** What an incremental publish reads off one snapshot: the live payload
  * ids, the live row count, each payload's mutation fingerprint and the
  * table's layout manifest entries.
  */
private[store] final case class PublishCut(ids: Vector[Long], rowCount: Long,
    fingerprints: Map[Long, String], layout: Seq[(String, String)],
    schema: StructType)

/** Table operations written once for both stores: the layout resolver,
  * the DSv2 table and its write commit, the ALTER rewrite, the layout
  * manifest, and checkpoint / restore of the table through it
  * (SnappyData's PERSISTENCE is one option for column and row tables
  * alike). Each store supplies only what differs, through the hooks —
  * including the one mutation surface (append, put, update, delete,
  * deleteKeys, createIndex, dropIndex) that the session and the SQL
  * surface dispatch through. `O` is the store's own layout beyond
  * [[BaseLayout]] (the column store's seal size, clustering, codec,
  * sketch set and roll-up policy).
  */
trait StoreOps[S <: TableState[S, R], R <: PayloadRef, O] {
  val FORMAT: String
  /** The layout manifest's `provider` value for this store. */
  val provider: String

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format(FORMAT).option("table", table).load()

  protected val registry: TableRegistry { type T <: SnapshotTable[S, R] }
  /** Store name used in errors and DSv2 table names ("graftstore"). */
  private[store] def kind: String = registry.kind
  /** The tier the store's writer tasks place payloads in. */
  protected def tier: PayloadTier[_]
  def exists(table: String): Boolean = registry.get(table).isDefined
  def drop(table: String): Unit = registry.drop(table)
  def tableNames: Seq[String] = registry.tableNames
  /** The live registry object of `table`: a re-created table is a new
    * object, so callers may key per-table caches by it, and a scan keeps
    * the one it pinned.
    */
  def handle(table: String): SnapshotTable[S, R] = registry(table)

  def snapshotOf(table: String): S = registry(table).snapshot
  def schema(table: String): StructType = snapshotOf(table).schema

  /** The read a session serves the table through. */
  def sessionRead(spark: SparkSession, table: String): DataFrame = read(spark, table)

  // ---- the mutation surface both stores implement ----

  /** INSERT: the format write in append mode. */
  def append(spark: SparkSession, table: String, rows: DataFrame): Unit =
    rows.write.format(FORMAT).option("table", table).mode("append").save()
  /** PUT INTO: key upsert — a matched row is replaced, the rest append. */
  def put(spark: SparkSession, table: String, source: DataFrame): Unit
  def update(spark: SparkSession, table: String, cond: Column,
      assignments: Seq[(String, Column)]): Unit
  def delete(spark: SparkSession, table: String, cond: Column): Unit
  /** DELETE every row whose key matches a row of `keys`. */
  def deleteKeys(spark: SparkSession, table: String, keys: DataFrame): Unit
  /** CREATE INDEX on `columns` (row tables: one secondary index per
    * column; column tables: clustering by the columns).
    */
  def createIndex(spark: SparkSession, table: String, columns: Seq[String]): Unit
  def dropIndex(spark: SparkSession, table: String): Unit
  /** Store-only layout options a rewrite must carry (the column store's
    * batch size, codec and sketch set).
    */
  protected def rewriteOptions(snap: S, r: Relayout): Seq[(String, String)] = Nil
  /** Store-only work after a rewrite commits (the row store's index
    * rebuild).
    */
  protected def afterRewrite(spark: SparkSession, table: String, snap: S,
      r: Relayout): Unit = ()

  // ---- the store's own layout ----

  /** The store's own layout from options over the existing snapshot,
    * holding every store-only default and check.
    */
  protected def resolveOwn(schema: StructType, options: Map[String, String],
      existing: Option[S]): O
  /** The store's own layout of a snapshot. */
  protected def ownOf(snap: S): O
  /** Store-only manifest keys; a restore replays each as a write option. */
  protected def ownKeys: Seq[(String, O => String)]
  /** Store-only manifest keys ALTER TABLE SET TBLPROPERTIES may change. */
  protected def ownTunables: Seq[String]
  private[store] def tunables: Seq[String] =
    Seq("eviction_budget_bytes", "expire_seconds") ++ ownTunables
  /** `snap` carrying the whole layout: what a truncate write commits. */
  protected def withLayout(snap: S, schema: StructType, base: BaseLayout, own: O): S
  /** `snap` carrying the layout's tunables (TTL, budget and the store's
    * [[ownTunables]]): what an append or a property change records.
    */
  protected def retune(snap: S, base: BaseLayout, own: O): S
  /** Register an empty table of the layout, replacing any table of the
    * name or else keeping an existing one. The whole layout rides the
    * first snapshot: a later mutate would open a window where a
    * concurrent writer resolves the table option-less.
    */
  protected def register(name: String, schema: StructType, base: BaseLayout, own: O,
      replace: Boolean): registry.T
  /** The store's DSv2 table over a resolved layout. */
  protected def newTable(name: String, schema: StructType, base: BaseLayout, own: O): StoreTable[O]
  /** The append half of a write commit (the column store's staged upsert). */
  protected def appendCommit(t: registry.T, refs: Vector[R],
      options: CaseInsensitiveStringMap): Unit = t.appendRefs(refs)
  /** Store-only work after a write commit (the column store's roll-up). */
  protected def afterCommit(table: String): Unit = ()

  /** The one store-only manifest key a restore does NOT replay as a write
    * option: a column list naming state the restore write cannot carry
    * over — physical row order the bucket shuffle destroys (z-order) or
    * stats keyed by the old payload ids (secondary indexes).
    */
  protected val rebuiltKey: String
  protected def rebuiltColumns(snap: S): Seq[String]
  /** Rebuild [[rebuiltKey]]'s columns on the freshly restored table. */
  protected def rebuild(spark: SparkSession, table: String, columns: Seq[String]): Unit

  /** Incremental publish addressing: the read option that pins a scan to
    * named payloads, the metadata column carrying each row's payload id,
    * and the prefix of the shared payload file names.
    */
  private[store] val pinOption: String
  private[store] val addressColumn: String
  private[store] val payloadPrefix: String
  /** Per-payload mutation fingerprint: equal strings prove no DELETE /
    * UPDATE changed the payload's visible rows between two snapshots
    * (payload ids never recycle within a store).
    */
  protected def mutationFingerprints(snap: S, ids: Set[Long]): Map[Long, String]

  // ---- one layout resolver, one table, one commit ----

  /** A table's validated layout from `options` over the existing
    * snapshot: the existing physical layout wins unless `relayout` is
    * set, tunables take an explicit option (see [[BaseLayout.fromOptions]]
    * and [[resolveOwn]]). With no options this is the snapshot's layout.
    */
  private[store] def resolve(schema: StructType, options: Map[String, String],
      existing: Option[S]): (BaseLayout, O) =
    (BaseLayout.fromOptions(kind, existing, options),
      resolveOwn(schema, options, existing))

  /** The DSv2 table `name` over `options` (a format read or write). */
  private[store] def table(name: String, schema: StructType,
      options: Map[String, String]): StoreTable[O] =
    table(name, schema, options, registry.get(name).map(_.snapshot))

  /** The catalog's table `name`: with no options the snapshot is the
    * layout (nothing is parsed on this per-statement path).
    */
  private[store] def loadTable(name: String): Option[StoreTable[O]] =
    registry.get(name).map { t => val s = t.snapshot; table(name, s.schema, Map.empty, Some(s)) }

  private def table(name: String, schema: StructType, options: Map[String, String],
      existing: Option[S]): StoreTable[O] = {
    val (base, own) = resolve(schema, options, existing)
    newTable(name, schema, base, own)
  }

  /** DSv2 CREATE: validate the whole layout BEFORE registering the
    * table with it (a failure after registration would leave a phantom
    * entry that fails the corrected retry with TableAlreadyExists).
    */
  private[store] def createTable(name: String, schema: StructType,
      options: Map[String, String]): StoreTable[O] = {
    val (base, own) = resolve(schema, options, None)
    register(name, schema, base, own, replace = true)
    newTable(name, schema, base, own)
  }

  /** The write commit of both stores — metadata only: the refs land in
    * the snapshot, the payloads are already where the tasks placed them.
    * A truncate is ONE atomic swap of the old refs for the new ones, the
    * write's schema and whole layout riding it, so a concurrent reader
    * sees all of the old table or all of the new one (compact and the
    * ALTER rewrite depend on this); an append records the write's
    * changed tunables, then appends.
    */
  private[store] def commitWrite(name: String, schema: StructType, base: BaseLayout,
      own: O, payloads: Seq[PayloadRef], truncate: Boolean,
      options: CaseInsensitiveStringMap): Unit = {
    // the store's own writer tasks sealed every ref
    val refs = payloads.toVector.asInstanceOf[Vector[R]]
    val t = register(name, schema, base, own, replace = false)
    if (truncate) t.replaceRefs(refs, withLayout(_, schema, base, own))
    else {
      val s = t.snapshot
      if (layoutOf(retune(s, base, own)) != layoutOf(s)) t.mutate(retune(_, base, own))
      appendCommit(t, refs, options)
    }
    // EXPIRE: reclaim payloads whose TTL passed
    t.expireSweep()
    afterCommit(name)
  }

  /** Release an aborted write's payloads. */
  private[store] def release(payloads: Seq[PayloadRef]): Unit =
    tier.release(payloads.map(_.id))

  private def layoutOf(s: S): (BaseLayout, O) = (BaseLayout.of(s), ownOf(s))

  /** Every manifest key a restore replays: the shared layout, then the
    * store's own.
    */
  private def layoutKeys: Seq[(String, (BaseLayout, O) => String)] =
    Seq[(String, (BaseLayout, O) => String)](
      ("partition_by", (b, _) => b.bucketBy.mkString(",")),
      ("buckets", (b, _) => b.numBuckets.toString),
      ("key_columns", (b, _) => b.keyColumns.mkString(",")),
      ("eviction_budget_bytes", (b, _) => b.evictionBudget.toString),
      ("expire_seconds", (b, _) => b.expireSeconds.toString)) ++
      ownKeys.map { case (k, of) => (k, (_: BaseLayout, o: O) => of(o)) }

  /** A layout as its manifest entries (also a table's DSv2 properties). */
  private[store] def entries(base: BaseLayout, own: O): Seq[(String, String)] =
    layoutKeys.map { case (k, of) => k -> of(base, own) }

  /** The table's layout manifest: everything a restore needs to rebuild
    * the same KIND of table — buckets, keys, budgets and the store's own
    * layout — so colocated joins, pruning and codecs behave as before.
    */
  def layoutEntries(table: String, snap: S): Seq[(String, String)] =
    Seq("provider" -> provider, rebuiltKey -> rebuiltColumns(snap).mkString(",")) ++
      entries(BaseLayout.of(snap), ownOf(snap))

  /** The shared layout of the live table. */
  def layout(table: String): BaseLayout = BaseLayout.of(snapshotOf(table))

  /** ALTER TABLE SET/UNSET TBLPROPERTIES: live-tune the layout entries
    * that need NO data rewrite — retention (`expire_seconds`), the LRU
    * overflow budget (`eviction_budget_bytes`) and the store's own
    * tunables (on column tables the at-rest codec, ingest granularity,
    * distinct-digest set and roll-up policy). A metadata-only snapshot
    * swap through the one resolver; retention changes enforce
    * IMMEDIATELY (sweep + budget), codec/batch-size apply to future
    * writes and compactions (existing sealed batches are not rewritten
    * — run compact() to re-encode), and newly-sketched columns serve
    * after the next compact() exactly like the enable-on-append path.
    * UNSET resets a tunable to its default. Reference mapping: GemFire's
    * mutable region attributes (entry TTL / eviction controller)
    * altered on a live region.
    */
  def alterProperties(spark: SparkSession, table: String,
      set: Map[String, String], unset: Seq[String] = Nil): Unit = {
    org.apache.spark.sql.graft.GrantRegistry.check(table, "ALTER")
    val t = registry(table)
    val schema = t.snapshot.schema
    val defaults = {
      val (b, o) = resolve(schema, Map.empty, None)
      entries(b, o).toMap
    }
    val changes = set ++ unset.map(k => k -> defaults.getOrElse(k, "")).toMap
    changes.keys.foreach { k =>
      require(tunables.contains(k),
        StoreOps.all.find(_.tunables.contains(k)) match {
          case Some(other) => s"alter($table): '$k' applies only to ${other.provider} tables"
          case None => s"alter($table): '$k' is not a live-tunable property " +
            s"(${tunables.sorted.mkString(", ")}); " +
            "column adds/drops/renames/type changes go through ALTER TABLE DDL"
        })
    }
    val (base, own) = resolve(schema, changes, Some(t.snapshot))
    t.mutate(retune(_, base, own))
    if (changes.contains("expire_seconds")) t.expireSweep()
  }

  private[store] def publishCut(table: String): PublishCut = {
    val snap = snapshotOf(table)
    val ids = snap.liveRefs.map(_.id)
    PublishCut(ids, snap.rowCount, mutationFingerprints(snap, ids.toSet),
      layoutEntries(table, snap), snap.schema)
  }

  /** Durable checkpoint of a store table (the session-level analog of the
    * reference's PERSISTENCE/DISKSTORE recovery story — GemFire disk
    * stores re-hydrate regions on restart; here an explicit
    * checkpoint/restore pair re-hydrates a store table across JVMs.
    * Automatic cluster recovery stays an ops non-goal, SURVEY §7). The
    * data lands as parquet (snapshot-consistent — one scan), the layout
    * as a properties manifest.
    */
  def checkpoint(spark: SparkSession, table: String, dir: String): Unit = {
    val snap = snapshotOf(table)
    read(spark, table).write.mode("overwrite").parquet(s"$dir/data")
    GraftManifest.write(spark, dir, layoutEntries(table, snap),
      s"$provider table checkpoint of $table")
  }

  /** Re-hydrate a checkpointed table (fresh JVM or after a drop). */
  def restore(spark: SparkSession, table: String, dir: String): DataFrame =
    restoreFrom(spark, table, GraftManifest.read(spark, dir),
      spark.read.parquet(s"$dir/data"))

  /** Re-hydrate `table` from a layout manifest and a row source — the
    * shared tail of [[restore]] (rows from the checkpoint's own `data/`)
    * and [[LiveCheckpoint]]'s attach (rows from an epoch). The manifest's
    * layout drives the normal bucketed write path; a restore replaces
    * whatever either store held under the name.
    */
  def restoreFrom(spark: SparkSession, table: String,
      p: java.util.Properties, df: DataFrame): DataFrame = {
    StoreOps.drop(table)
    var w = df.write.format(FORMAT).option("table", table)
    layoutKeys.foreach { case (k, _) =>
      val v = p.getProperty(k, "")
      if (v.nonEmpty && !(k == "buckets" && v == "0")) w = w.option(k, v)
    }
    w.mode("overwrite").save()
    rebuild(spark, table, BaseLayout.columnList(p.getProperty(rebuiltKey, "")))
    read(spark, table)
  }

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
    StoreOps.requireSupported(s"alter($table)", next.schema)
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

/** Store dispatch: by table name (the row store first) or by a layout
  * manifest's `provider` (absent on the oldest manifests, which only the
  * column store wrote). The registries behind it are the one table
  * catalog: every session resolves a graft table here.
  */
object StoreOps {
  val all: Seq[StoreOps[_, _, _]] = Seq(GraftRowOps, GraftStoreOps)

  def forTable(table: String): Option[StoreOps[_, _, _]] = all.find(_.exists(table))

  def apply(table: String): StoreOps[_, _, _] = forTable(table).getOrElse(
    throw new IllegalArgumentException(s"store table not found: $table"))

  /** A DSv2 CREATE's store: `USING row` makes a row table, any other
    * provider a column table.
    */
  def forProvider(provider: Option[String]): StoreOps[_, _, _] =
    if (provider.exists(_.equalsIgnoreCase(GraftRowOps.provider))) GraftRowOps
    else GraftStoreOps

  def forManifest(p: java.util.Properties): StoreOps[_, _, _] = {
    val provider = p.getProperty("provider", GraftStoreOps.provider)
    all.find(_.provider == provider).getOrElse(
      throw new IllegalArgumentException(s"unknown store provider '$provider'"))
  }

  /** Drop `table` from every store. */
  def drop(table: String): Unit = all.foreach(_.drop(table))

  /** Refuse a schema the stores cannot hold, before anything is written
    * (CREATE and the ALTER rewrite alike).
    */
  def requireSupported(what: String, schema: StructType): Unit =
    schema.fields.foreach(f =>
      require(GraftColumnStore.supportsType(f.dataType),
        s"$what: column ${f.name} has unsupported type ${f.dataType}"))

  /** COLOCATE_WITH, for both CREATE routes (SQL DDL and the DSv2
    * catalog): colocation IS shared bucketing — co-bucketed tables join
    * storage-partitioned, with no exchange — so the new table takes the
    * target's bucket count and, when it names none, its bucket columns.
    * Any bucketed store table is a target. Mismatched counts forfeit
    * storage-partitioned joins entirely (bucket(4) vs bucket(16) are
    * incompatible KeyGroupedPartitionings, PERF_NOTES §18), so a
    * mismatch fails at CREATE, not as a full shuffle at every join.
    * Returns the (bucket columns, bucket count) the new table takes.
    */
  def colocateWith(what: String, target: String, schema: StructType,
      bucketBy: Seq[String], buckets: Option[Int]): (Seq[String], Int) = {
    val t = forTable(target).map(_.layout(target)).getOrElse(
      throw new IllegalArgumentException(
        s"$what: COLOCATE_WITH '$target' is not a managed table"))
    require(t.bucketBy.nonEmpty && t.numBuckets > 0,
      s"$what: COLOCATE_WITH '$target' is not bucketed")
    buckets.filter(_ != t.numBuckets).foreach { b =>
      throw new IllegalArgumentException(
        s"$what: $b buckets cannot colocate with '$target' " +
          s"(${t.numBuckets} buckets) — mismatched counts forfeit " +
          "storage-partitioned joins entirely")
    }
    require(bucketBy.isEmpty || bucketBy.size == t.bucketBy.size,
      s"$what: bucket column arity ${bucketBy.size} cannot colocate " +
        s"with '$target' (${t.bucketBy.size} columns)")
    val by = if (bucketBy.nonEmpty) bucketBy else t.bucketBy
    by.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"$what: colocation column '$c' is not in the table's schema"))
    (by, t.numBuckets)
  }
}
