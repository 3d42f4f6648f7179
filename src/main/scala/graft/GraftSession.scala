package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{MatViews, MatViewSupport}

import scala.collection.concurrent.TrieMap

/** Session facade over SparkSession — the rebuild of SnappySession's
  * managed-table surface (reference: core/.../SnappySession.scala:872-2171,
  * sql/sources/StoreStrategy.scala, internal/ColumnTableBulkOps.scala).
  *
  * Design mapping (SURVEY.md §1.1, §7):
  *  - "column table" = a cached (in-memory columnar) DataFrame registered
  *    as a temp view. Spark's InMemoryRelation IS a compressed columnar
  *    batch store with per-batch min/max stats pruning — the same
  *    architecture as the reference's column store, minus GemFire
  *    replication (an explicit non-goal, SURVEY.md §7).
  *  - PARTITION_BY/BUCKETS ⇒ `repartition(buckets, cols)` before caching:
  *    the cached plan keeps that HashPartitioning, so joins/aggs on the
  *    partition key skip the Exchange — the reference's colocated-join
  *    behavior (SnappyStrategies.getCollocatedPartitioning).
  *  - Mutations are copy-on-write snapshots: each INSERT/PUT/UPDATE/DELETE
  *    produces a new immutable cached plan and atomically swaps the
  *    catalog entry — the analog of the reference's snapshot-isolated
  *    batch + delta design (delta rewrite instead of in-place mutation).
  *    Readers that captured the previous DataFrame keep a consistent view.
  *
  * At cluster scale the same API would sit over a DSv2 catalog with
  * persistent storage; the semantics exposed to queries are identical.
  */
class GraftSession(val spark: SparkSession)
    extends org.apache.spark.internal.Logging {

  /** Catalog entry for a managed table. `storeBacked` tables live in the
    * graftstore DSv2 column store (delta/delete mutation, bucketed
    * layout); the cached-DataFrame path remains for schemas the store
    * doesn't hold (arrays etc.).
    */
  case class TableState(
      df: DataFrame,
      keyColumns: Seq[String],
      partitionBy: Seq[String],
      buckets: Int,
      storeBacked: Boolean = false,
      rowBacked: Boolean = false)

  private val tables = TrieMap.empty[String, TableState]

  // ---- query history (sys.queries): ring buffer fed by a
  // QueryExecutionListener from session construction on — the
  // reference's dashboard "recent queries" surface. Driver-side,
  // bounded, metadata only (no plan retention beyond a summary line).
  private val queryLog =
    new java.util.concurrent.ConcurrentLinkedDeque[GraftSession.QueryLogEntry]
  private val QueryLogMax = 100
  spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
    private def log(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long, status: String): Unit = {
      val root = scala.util.Try(qe.executedPlan.nodeName)
        .orElse(scala.util.Try(qe.logical.nodeName)).getOrElse("?")
      queryLog.addFirst(GraftSession.QueryLogEntry(
        new java.sql.Timestamp(System.currentTimeMillis()), funcName,
        if (durationNs < 0) -1L else durationNs / 1000000L, status, root))
      while (queryLog.size > QueryLogMax) queryLog.pollLast()
    }
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = log(funcName, qe, durationNs, "success")
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = log(funcName, qe, -1L, "failed")
  })

  /** The most recent query executions (newest first) — `sys.queries`.
    * Captures executions from this GraftSession's construction onward.
    */
  def sysQueries: DataFrame = {
    val rows = {
      val it = queryLog.iterator()
      val b = Seq.newBuilder[(java.sql.Timestamp, String, Long, String, String)]
      while (it.hasNext) {
        val e = it.next()
        b += ((e.endedAt, e.op, e.durationMs, e.status, e.rootPlan))
      }
      b.result()
    }
    spark.createDataFrame(rows)
      .toDF("ended_at", "op", "duration_ms", "status", "root_plan")
  }

  // ---- synonyms (reference create-synonym.md): alternate SQL names,
  // resolved wherever a table is REFERENCED (normalize), guarded at
  // every definition site (CREATE/DROP/restore refuse synonym names —
  // Derby errors there too). Nested synonyms allowed; cycles rejected
  // at CREATE (42916 analog) so resolution is a bounded walk.
  // tables brought in via attachTable: READ REPLICAS of a publisher's
  // epoch — local mutations would silently diverge from the source (the
  // reference's connector tables write THROUGH to the store; an epoch
  // copy cannot), so every mutation entry point refuses them. Status
  // lives in the STORE-level registry (ReplicaGuard), not a
  // session-private set: DSv2 writes (`INSERT INTO graft.t`,
  // `df.write.format(store)`) never pass through this session, and a
  // session-only guard would let them silently diverge the copy.
  private def requireWritable(name: String, op: String): Unit = {
    org.apache.spark.sql.graft.store.ReplicaGuard
      .requireWritable(normalize(name), op)
    org.apache.spark.sql.graft.store.MatViews.guardWrite(normalize(name))
  }

  private val synonymMap = TrieMap.empty[String, String]

  /** Stable id distinguishing this session in JVM-global registries
    * (`sys.replicas` owner_session — "who attached this" across JDBC /
    * concurrent sessions).
    */
  val sessionId: String = s"s${GraftSession.sessionIds.incrementAndGet()}"

  /** SYS.REPLICAS: one row per attached replica in the JVM — read from
    * the STORE-level registry (ReplicaGuard), the same map enforcement
    * consults, so a replica attached by ANY session (e.g. over JDBC) is
    * visible here with its provenance and owning session. `pinned` is
    * true for views pinned to a specific epoch (dataset time travel);
    * unpinned attaches advance on re-attach.
    */
  def sysReplicas: org.apache.spark.sql.DataFrame = {
    val rows = org.apache.spark.sql.graft.store.ReplicaGuard.all
      .map { case (n, i) => (n, i.mode, i.epoch, i.root, i.pinned, i.ownerSession) }
    spark.createDataFrame(rows)
      .toDF("name", "mode", "epoch", "root", "pinned", "owner_session")
  }

  def createSynonym(name: String, target: String): Unit = {
    val n = name.toLowerCase; val t = target.toLowerCase
    require(!n.startsWith("sys.") && n != "sys",
      s"CREATE SYNONYM $name: system schemas are reserved")
    require(!synonymMap.contains(n), s"synonym already exists: $name")
    require(!tables.contains(n) && !spark.catalog.tableExists(n),
      s"CREATE SYNONYM $name: a table or view with this name already exists")
    // direct self-reference never enters the walk below (the name is
    // not in the map yet) — reject it up front (Derby 42916)
    require(t != n, s"CREATE SYNONYM $name: circular synonym chain")
    var cur = t; var hops = 0
    while (synonymMap.contains(cur)) {
      cur = synonymMap(cur); hops += 1
      require(cur != n && hops < 64,
        s"CREATE SYNONYM $name: circular synonym chain")
    }
    // target may not exist yet (reference warns, SQLSTATE 01522): legal —
    // the chain just fails at USE time with table-not-found
    synonymMap.put(n, t)
  }

  def dropSynonym(name: String): Unit =
    require(synonymMap.remove(name.toLowerCase).isDefined,
      s"synonym not found: $name")

  def isSynonym(name: String): Boolean = synonymMap.contains(name.toLowerCase)

  def resolveSynonym(name: String): String = {
    var cur = name.toLowerCase; var hops = 0
    while (synonymMap.contains(cur) && hops < 64) { cur = synonymMap(cur); hops += 1 }
    cur
  }

  def synonyms: Seq[(String, String)] = synonymMap.toSeq.sorted

  /** SET ISOLATION (reference set-isolation.md): NONE/RESET and
    * READ COMMITTED (CS) are accepted — the store's snapshot-per-statement
    * reads ARE read-committed. REPEATABLE READ (RS) needs multi-statement
    * transactions this engine deliberately does not have, so it is
    * REFUSED rather than silently weakened. `current_isolation()` reads
    * the recorded level back (the `VALUES CURRENT ISOLATION` analog).
    */
  def setIsolation(level: String): Unit = {
    val norm = level.trim.toUpperCase.replaceAll("\\s+", " ")
    norm match {
      case "NONE" | "RESET" =>
        spark.conf.set("spark.sql.graft.isolation", "NONE")
      case "CS" | "READ COMMITTED" =>
        spark.conf.set("spark.sql.graft.isolation", "CS")
      case "RS" | "REPEATABLE READ" =>
        throw new UnsupportedOperationException(
          "SET ISOLATION REPEATABLE READ: multi-statement transactions are " +
            "not supported — snapshot-per-statement gives READ COMMITTED " +
            "semantics (use READ COMMITTED or NONE)")
      case other =>
        throw new IllegalArgumentException(s"SET ISOLATION: unknown level '$other'")
    }
  }

  private def normalize(name: String): String = resolveSynonym(name)

  import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowOps, GraftRowStore, GraftStoreOps}

  /** CREATE TABLE ... USING column OPTIONS (partition_by, buckets,
    * key_columns). Data lands in the graftstore column store (sealed
    * encoded batches + stats, delta row buffer, mutable via delete
    * bitmaps / update deltas — see GraftColumnStore); a temp view exposes
    * it to SQL. Schemas with store-unsupported types (arrays, maps) fall
    * back to the cached-DataFrame snapshot path.
    */
  def createTable(
      name: String,
      data: DataFrame,
      keyColumns: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      buckets: Int = 32,
      provider: String = "column",
      compression: String = "none",
      evictionBudgetBytes: Long = 0L,
      expireSeconds: Long = 0L): DataFrame = {
    require(!isSynonym(name), s"CREATE TABLE $name: name is a synonym")
    val nm = normalize(name)
    org.apache.spark.sql.graft.store.ReplicaGuard.clear(nm) // an explicit CREATE supersedes replica status
    // ... and supersedes matview status the same way (the maintenance
    // scope's own rebuild re-registers right after)
    org.apache.spark.sql.graft.store.MatViews.unregister(nm)
    // a replaced table must not inherit the old table's constraints —
    // the DDL command re-registers the new ones after this returns
    org.apache.spark.sql.graft.Constraints.drop(nm)
    if (provider == "row") {
      // row table (reference RowFormatRelation): row-major packs with a
      // per-pack PRIMARY-KEY index; point lookups resolve by index probe
      (keyColumns ++ partitionBy).foreach(c =>
        require(GraftColumnStore.supportsType(
          data.schema.fields(data.schema.fieldIndex(c)).dataType),
          s"row table $name: key/bucket column $c has an unsupported type"))
      GraftRowStore.drop(nm) // fresh layout (options win over a stale table)
      val w = data.write.format(GraftRowOps.FORMAT).option("table", nm)
        .option("key_columns", keyColumns.mkString(","))
        .option("eviction_budget_bytes", evictionBudgetBytes.toString)
        .option("expire_seconds", expireSeconds.toString)
      val w2 =
        if (partitionBy.nonEmpty)
          w.option("partition_by", partitionBy.mkString(",")).option("buckets", buckets.toString)
        else w
      w2.mode("overwrite").save()
      val df = GraftRowOps.read(spark, nm)
      df.createOrReplaceTempView(nm)
      tables.put(nm, TableState(df, keyColumns, partitionBy, buckets,
        storeBacked = false, rowBacked = true))
      df
    } else if (data.schema.fields.forall(f => GraftColumnStore.supportsType(f.dataType))) {
      // bucketed writes parallelize via the required clustered
      // distribution; unbucketed ingest inherits the source's
      // partitioning — at scale that is the source's split count. When a
      // BIG source arrives in few splits (one 100 GB parquet file), the
      // encode stage would serialize on those few tasks, so repartition
      // up to the cluster's parallelism; below the size floor the extra
      // shuffle costs more than the encode parallelism buys (measured
      // 2.3x slower on a small single-file ingest).
      val ingest =
        if (partitionBy.nonEmpty) data
        else {
          val cores = spark.sparkContext.defaultParallelism
          val floor = spark.conf.get(GraftSession.INGEST_MIN_BYTES_KEY,
            (256L << 20).toString).toLong
          // size gate FIRST: logical stats are metadata; the split count
          // (data.rdd) costs a full physical planning pass, so only big
          // sources pay it
          val bytes = data.queryExecution.optimizedPlan.stats.sizeInBytes
          if (bytes > floor && data.rdd.getNumPartitions < cores)
            data.repartition(cores)
          else data
        }
      val w = ingest.write.format(GraftStoreOps.FORMAT).option("table", nm)
        .option("key_columns", keyColumns.mkString(","))
        .option("compression", compression)
        .option("eviction_budget_bytes", evictionBudgetBytes.toString)
        .option("expire_seconds", expireSeconds.toString)
      val w2 =
        if (partitionBy.nonEmpty)
          w.option("partition_by", partitionBy.mkString(",")).option("buckets", buckets.toString)
        else w
      GraftColumnStore.drop(nm) // fresh layout (options win over a stale table)
      w2.mode("overwrite").save()
      // prefer the CATALOG read: only catalog-resolved scans carry the
      // bucket-grouped KeyGroupedPartitioning (the bucket transform's
      // function resolves through GraftCatalog), which is what lets
      // bucket-key joins/aggregations skip the store-side exchange —
      // a reader-based load of the same table reports UnknownPartitioning.
      // withBypass: this analysis is internal plumbing — the CURRENT
      // user's policies/grants must not bake into the session-shared df
      // (each user query re-runs the rules at its own analysis); the
      // Try covers only sessions without the graft catalog registered
      val df = org.apache.spark.sql.graft.PolicyRegistry.withBypass {
        scala.util.Try(spark.table(s"graft.$nm"))
          .getOrElse(GraftStoreOps.read(spark, nm))
      }
      df.createOrReplaceTempView(nm)
      tables.put(nm, TableState(df, keyColumns, partitionBy, buckets, storeBacked = true))
      df
    } else {
      val df =
        if (partitionBy.nonEmpty)
          data.repartition(buckets, partitionBy.map(col): _*)
        else data
      swap(nm, TableState(df, keyColumns, partitionBy, buckets))
    }
  }

  def table(name: String): DataFrame =
    tables.getOrElse(normalize(name),
      throw new IllegalArgumentException(s"graft table not found: $name")).df

  /** Durable checkpoint / re-hydration of a store-backed table (the
    * session-level PERSISTENCE/DISKSTORE analog — see
    * [[org.apache.spark.sql.graft.store.GraftStoreOps.checkpoint]]).
    */
  def checkpointTable(name: String, dir: String): Unit = {
    val nm = normalize(name)
    if (tables.get(nm).exists(_.rowBacked)) GraftRowOps.checkpoint(spark, nm, dir)
    else {
      require(isStoreBacked(name), s"checkpointTable($name): not a store-backed table")
      GraftStoreOps.checkpoint(spark, nm, dir)
    }
    // constraints ride the checkpoint in a sidecar (incl. the identity
    // high-water mark, so a restored table never re-issues values)
    org.apache.spark.sql.graft.Constraints.get(nm).foreach { tc =>
      org.apache.spark.sql.graft.store.GraftManifest.write(spark, dir,
        Seq("constraints" -> org.apache.spark.sql.graft.Constraints.encode(tc)),
        s"graft constraints for $nm", file = "constraints.properties")
    }
    writeMatviewSidecar(nm, dir)
  }

  /** A matview's DEFINITION rides its durable artifacts (checkpoint dir
    * AND each published epoch dir), so a cold JVM (restoreTable /
    * BOOTSTRAP CATALOG, either source) recovers the view
    * registered-but-STALE: freshness fingerprints name payload ids of
    * the JVM that recorded them, so a restored view can never prove
    * itself current — the first REFRESH (full) revalidates it.
    * Fields URL-encode (aliases may contain the delimiters); a PLAIN
    * table checkpointing into a REUSED dir deletes any stale sidecar —
    * layout/data overwrite, and the matview marker must not outlive
    * the view it described (restore would guard-lock the plain table).
    */
  private def writeMatviewSidecar(nm: String, dir: String): Unit = {
    import java.net.{URLEncoder => UEnc}
    def enc(s: String): String = UEnc.encode(s, "UTF-8")
    org.apache.spark.sql.graft.store.MatViews.get(nm) match {
      case Some(mv) =>
        org.apache.spark.sql.graft.store.GraftManifest.write(spark, dir, Seq(
          "base" -> mv.base,
          "group_cols" -> mv.groupCols.map(enc).mkString(","),
          "group_qual" -> mv.groupQual.map(enc).mkString(","),
          "aggs" -> mv.aggs.map(a =>
            s"${a.func}:${enc(a.input)}:${enc(a.resultName)}").mkString(";"),
          "predicate" -> mv.predicate.map(enc).mkString(";"),
          "join_tables" -> mv.joins.map(_.tables.mkString(",")).getOrElse(""),
          "join_conds" -> mv.joins.map(_.conds.map(enc).mkString(";")).getOrElse(""),
          "sql" -> mv.sql),
          s"graft matview definition for $nm", file = "matview.properties")
      case None =>
        val p = new org.apache.hadoop.fs.Path(dir, "matview.properties")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, false)
    }
  }

  /** Read `dir`'s matview sidecar, if any, and register the definition
    * with a freshness SENTINEL no live snapshot can match (-1 is never a
    * payload id): the recovered view declines to serve until a REFRESH
    * rebuilds it against the recovered base's own payload ids.
    */
  private def registerMatviewSidecar(nm: String, dir: String): Unit =
    org.apache.spark.sql.graft.store.GraftManifest
      .readOpt(spark, dir, "matview.properties").foreach { mp =>
        def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
        def list(prop: String): Seq[String] = Option(mp.getProperty(prop)).toSeq
          .flatMap(_.split(";").toSeq).filter(_.nonEmpty)
        val aggs = list("aggs").map { e =>
          val Array(f, in, rn) = e.split(":", 3)
          MatViews.MvAgg(f, dec(in), dec(rn))
        }
        val sentinel = MatViews.MvFreshness(Set(-1L), Map.empty)
        val joinTables = Option(mp.getProperty("join_tables")).toSeq
          .flatMap(_.split(",")).filter(_.nonEmpty)
        val joins = if (joinTables.isEmpty) None else Some(MatViews.MvJoin(
          joinTables, list("join_conds").map(dec),
          joinTables.map(_ -> sentinel).toMap))
        MatViews.register(MatViews.MvDef(nm, mp.getProperty("base"),
          Option(mp.getProperty("group_cols")).toSeq
            .flatMap(_.split(",")).filter(_.nonEmpty).map(dec),
          aggs, Option(mp.getProperty("sql")).getOrElse(""),
          sentinel,
          predicate = list("predicate").map(dec),
          joins = joins,
          groupQual = Option(mp.getProperty("group_qual")).toSeq
            .flatMap(_.split(",")).filter(_.nonEmpty).map(dec)))
      }

  /** Checkpoint to the table's bound DISKSTORE (reference persistence:
    * "a table that does not target a named disk store uses the default
    * disk store" — here a named binding is REQUIRED for the no-dir form,
    * because an implicit working-dir default would silently scatter
    * durable state).
    */
  def checkpointTable(name: String): Unit =
    checkpointTable(name, diskstoreDirFor(name, "checkpointTable"))

  /** Restore from the table's bound DISKSTORE directory (or, in a fresh
    * JVM, from whichever registered diskstore holds a checkpoint of this
    * name); re-binds the table so later checkpoints write back there.
    */
  def restoreTable(name: String): DataFrame = {
    import org.apache.spark.sql.graft.store.Diskstores
    val dir = diskstoreDirFor(name, "restoreTable")
    val df = restoreTable(name, dir)
    val parent = java.nio.file.Paths.get(dir).getParent
    Diskstores.all.find(_.dirs.exists(d =>
      java.nio.file.Paths.get(d).toAbsolutePath.normalize ==
        parent.toAbsolutePath.normalize))
      .foreach(ds => Diskstores.bind(normalize(name), ds.name))
    df
  }

  /** Connector-mode serving, session face (reference
    * docs/affinity_modes/connector_mode.md — store members keep
    * ingesting while connector JVMs serve reads): publish the table's
    * snapshot as the next committed epoch under its bound DISKSTORE (or
    * an explicit root). A reader session — typically another JVM —
    * [[attachTable]]s the same root and serves the newest committed
    * epoch; re-attaching advances with later publishes. Torn snapshots
    * are impossible by construction ([[org.apache.spark.sql.graft.store
    * .LiveCheckpoint]]: marker-last commit + fingerprint-verified
    * attach). Constraints ride each epoch in the same sidecar
    * checkpointTable writes — before the commit marker, so no reader
    * can attach an epoch missing them.
    */
  def publishTable(name: String, incremental: Boolean = false): Long =
    publishTable(name, diskstoreDirFor(normalize(name), "publishTable"),
      incremental)

  /** `incremental = true` publishes column tables at O(delta-since-last-
    * epoch) instead of O(table): unchanged batches are shared by
    * reference across epochs (see [[LiveCheckpoint]]). Semantics are
    * identical either way — attach verifies the same whole-table
    * fingerprint.
    */
  def publishTable(name: String, root: String, incremental: Boolean): Long = {
    val nm = normalize(name)
    require(isManaged(nm), s"publishTable($name): not a managed table")
    org.apache.spark.sql.graft.store.LiveCheckpoint.publish(spark, nm, root,
      beforeCommit = dir => {
        org.apache.spark.sql.graft.Constraints.get(nm).foreach { tc =>
          org.apache.spark.sql.graft.store.GraftManifest.write(spark, dir,
            Seq("constraints" -> org.apache.spark.sql.graft.Constraints.encode(tc)),
            s"graft constraints for $nm", file = "constraints.properties")
        }
        // the matview definition rides each epoch too (before the commit
        // marker, so no reader can attach an epoch missing it): a backing
        // table recovered from epochs — bootstrap's "newest artifact
        // wins" — comes back a MATVIEW (stale), not a plain table
        writeMatviewSidecar(nm, dir)
      },
      incremental = incremental)
  }

  def publishTable(name: String, root: String): Long =
    publishTable(name, root, incremental = false)

  /** Attach the newest committed epoch under `root` as managed table
    * `name` — read-only with respect to the publisher (the attach
    * copies into this JVM's registries). Returns the epoch served.
    */
  /** Replace `nm`'s registered constraints with the epoch's sidecar —
    * clearing FIRST so absence of the sidecar means no constraints (a
    * re-attach must not keep a dropped epoch's set registered).
    */
  private def registerEpochConstraints(nm: String, root: String, e: Long): Unit = {
    import org.apache.spark.sql.graft.store.{GraftManifest, LiveCheckpoint}
    org.apache.spark.sql.graft.Constraints.drop(nm)
    GraftManifest.readOpt(spark, LiveCheckpoint.dirFor(root, e),
        "constraints.properties")
      .flatMap(cp => Option(cp.getProperty("constraints")))
      .foreach(enc => org.apache.spark.sql.graft.Constraints.register(nm,
        org.apache.spark.sql.graft.Constraints.decodeConstraints(enc)))
  }

  def attachTable(name: String, root: String): Long = {
    require(!isSynonym(name), s"attachTable($name): name is a synonym")
    val nm = normalize(name)
    import org.apache.spark.sql.graft.store.{GraftRowStore, LiveCheckpoint}
    val e = LiveCheckpoint.attachLatest(spark, nm, root)
    registerEpochConstraints(nm, root, e)
    registerFromStore(nm)
    org.apache.spark.sql.graft.store.ReplicaGuard.markReplica(nm,
      org.apache.spark.sql.graft.store.ReplicaGuard.ReplicaInfo(
        root, e, "table", pinned = false, sessionId))
    e
  }

  /** Zero-copy attach: serve the newest committed epoch as a VIEW over
    * the parquet it published — attach cost is O(manifest), not
    * O(table), and a scan reads only the columns/row-groups the query
    * touches (parquet pushdown). This is the 100 TB serving shape:
    * [[attachTable]] restores a full store copy into this JVM (right
    * for dimension-sized serving tables — bucketed layout, store
    * pruning, point lookups), which cannot work when the table is the
    * lake; the view path never materializes anything.
    *
    * Tradeoffs, stated: the view keeps READING the published files for
    * its serving lifetime, so the publisher's `keep` × publish cadence
    * must exceed query latency or retention can delete files mid-query
    * (epochs are immutable, so re-attach-and-retry is always safe —
    * [[servingRead]] implements exactly that, surfacing the typed
    * [[org.apache.spark.sql.graft.store.EpochPrunedException]] when a
    * PINNED view's epoch is gone); and a parquet view has no bucketed
    * layout, so joins
    * against it shuffle where an attachTable copy could
    * storage-partition. `verify = true` runs the same O(rows)
    * fingerprint check attach performs; the default trusts the
    * marker-last protocol + parquet checksums. Returns the epoch served;
    * re-attaching advances to the newest committed epoch.
    */
  def attachView(name: String, root: String, verify: Boolean = false): Long =
    attachView(name, root, epoch = None, verify)

  /** `epoch = Some(n)` pins the view to a SPECIFIC committed epoch
    * instead of the newest — epochs are immutable, so this is dataset
    * time travel: a training run can pin its input epoch and be exactly
    * reproducible for as long as retention keeps it (publish with a
    * `keep` sized to the reproducibility window).
    */
  def attachView(name: String, root: String, epoch: Option[Long],
      verify: Boolean): Long = {
    require(!isSynonym(name), s"attachView($name): name is a synonym")
    val nm = normalize(name)
    import org.apache.spark.sql.graft.store.LiveCheckpoint
    val e = epoch match {
      case Some(n) =>
        require(LiveCheckpoint.committedEpochs(spark, root).contains(n),
          s"attachView($name): epoch $n is not committed under $root " +
            "(never published, in flight, or pruned by retention)")
        n
      case None => LiveCheckpoint.latestEpoch(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed epoch under $root"))
    }
    val df = LiveCheckpoint.epochFrame(spark, root, e)
    if (verify) LiveCheckpoint.verifyAgainst(spark, root, e, df)
    df.createOrReplaceTempView(nm)
    // constraints ride for metadata surfaces (sys.constraints); a view
    // is read-only so there is nothing to enforce
    registerEpochConstraints(nm, root, e)
    tables.put(nm, TableState(df, Nil, Nil, 0))
    org.apache.spark.sql.graft.store.ReplicaGuard.markReplica(nm,
      org.apache.spark.sql.graft.store.ReplicaGuard.ReplicaInfo(
        root, e, "view", pinned = epoch.isDefined, sessionId))
    e
  }

  /** Re-attach an attached view to the NEWEST committed epoch under its
    * root (serving advances; any pin is released — re-pin explicitly via
    * [[attachView]] if time travel should continue). Returns the epoch
    * now served.
    */
  def refreshView(name: String): Long = {
    val nm = normalize(name)
    val info = org.apache.spark.sql.graft.store.ReplicaGuard.infoOf(nm)
      .filter(_.mode == "view").getOrElse(throw new IllegalArgumentException(
        s"refreshView($name): not an attached view"))
    attachView(nm, info.root, epoch = None, verify = false)
  }

  /** Run a read against an attached view with the serving-lifetime
    * retention race handled (the documented attachView tradeoff: the view
    * reads the published files for its whole lifetime, so a publisher
    * outrunning retention can delete them mid-query). On a file-loss
    * failure this confirms against the root whether the view's epoch was
    * actually pruned — a missing file under a STILL-COMMITTED epoch is
    * corruption, and the original error propagates untouched. A pruned
    * unpinned view transparently re-attaches to the newest committed
    * epoch and retries once; a pruned PINNED view cannot be silently
    * advanced (the pin is a reproducibility promise), so it raises the
    * typed [[org.apache.spark.sql.graft.store.EpochPrunedException]]
    * telling the caller to re-attach.
    */
  def servingRead[T](name: String)(f: DataFrame => T): T = {
    val nm = normalize(name)
    import org.apache.spark.sql.graft.store.{EpochPrunedException, LiveCheckpoint, ReplicaGuard}
    def isFileLoss(e: Throwable): Boolean = {
      val seen = scala.collection.mutable.Set.empty[Throwable]
      var cur = e
      var found = false
      while (cur != null && !found && seen.add(cur)) {
        found = cur.isInstanceOf[java.io.FileNotFoundException] ||
          (cur.getMessage != null &&
            (cur.getMessage.contains("PATH_NOT_FOUND") ||
              cur.getMessage.contains("Path does not exist") ||
              cur.getMessage.contains("FileNotFound")))
        cur = cur.getCause
      }
      found
    }
    try f(table(nm))
    catch {
      case e: Throwable if isFileLoss(e) &&
          ReplicaGuard.infoOf(nm).exists(_.mode == "view") =>
        val info = ReplicaGuard.infoOf(nm).get
        if (LiveCheckpoint.committedEpochs(spark, info.root).contains(info.epoch))
          throw e // files missing under a committed epoch: NOT retention
        if (info.pinned)
          throw new EpochPrunedException(nm, info.root, info.epoch, e)
        refreshView(nm)
        f(table(nm))
    }
  }

  private def diskstoreDirFor(name: String, op: String): String =
    org.apache.spark.sql.graft.store.Diskstores.checkpointDir(normalize(name))
      .getOrElse(throw new IllegalArgumentException(
        s"$op($name): no DISKSTORE bound — create the table with " +
          "OPTIONS (diskstore 'name') or pass an explicit directory"))

  def restoreTable(name: String, dir: String): DataFrame = {
    require(!isSynonym(name), s"restoreTable($name): name is a synonym")
    val nm = normalize(name)
    org.apache.spark.sql.graft.store.ReplicaGuard.clear(nm) // an explicit restore supersedes replica status
    org.apache.spark.sql.graft.store.MatViews.unregister(nm) // ... and matview status (re-registered below if the sidecar says so)
    // the manifest knows which store the table came from
    val p = org.apache.spark.sql.graft.store.GraftManifest.read(spark, dir)
    org.apache.spark.sql.graft.store.GraftManifest
      .readOpt(spark, dir, "constraints.properties")
      .flatMap(cp => Option(cp.getProperty("constraints")))
      .foreach(enc => org.apache.spark.sql.graft.Constraints.register(nm,
        org.apache.spark.sql.graft.Constraints.decodeConstraints(enc)))
    if (p.getProperty("provider", "column") == "row") {
      val df = GraftRowOps.restore(spark, nm, dir)
      df.createOrReplaceTempView(nm)
      val s = GraftRowStore(nm).snapshot
      tables.put(nm, TableState(df, s.keyColumns, s.bucketBy,
        math.max(s.numBuckets, 0), rowBacked = true))
      df
    } else {
      val df = GraftStoreOps.restore(spark, nm, dir)
      df.createOrReplaceTempView(nm)
      val s = GraftColumnStore(nm).snapshot
      tables.put(nm, TableState(df, s.keyColumns, s.bucketBy,
        math.max(s.numBuckets, 0), storeBacked = true))
      registerMatviewSidecar(nm, dir)
      df
    }
  }

  /** Durable catalog bootstrap — the reference persists its catalog
    * INSIDE the store (core/.../hive/SnappyHiveExternalCatalog.scala:67,
    * io/snappydata/sql/catalog/impl/StoreHiveCatalog.scala), so a
    * restarted cluster still knows every table; our registry is
    * JVM-lifetime, so a COLD JVM runs this ONE sweep instead of naming
    * each table: every child of every registered DISKSTORE directory
    * holding a checkpoint manifest (`layout.properties`) or committed
    * epochs is re-registered as an OWNED managed table — provider,
    * bucketed layout, constraints and the identity high-water mark all
    * ride the manifests/sidecars the checkpoint and publish paths wrote.
    *
    * Rules, stated:
    *  - an existing managed name WINS — bootstrap never replaces live
    *    state (reported `skipped_exists`); replicas attached under the
    *    name also win (they were attached deliberately).
    *  - when a name has BOTH a plain checkpoint and committed epochs
    *    (checkpointTable and publishTable share `<diskstore>/<table>`),
    *    the NEWER artifact wins by modification time — "latest durable
    *    state" is the recovery contract.
    *  - an epoch-rooted table is restored as OWNED (publisher recovery:
    *    epoch numbering continues under the same root on the next
    *    publish), NOT as a read replica — serving JVMs attach
    *    deliberately via attachTable/attachView.
    *
    * Cost: O(directories listed + tables restored); nothing is scanned
    * beyond the restores themselves. `diskstore = Some(name)` scopes the
    * sweep to one registered diskstore. Returns one row per candidate:
    * (table_name, diskstore, source, epoch, action).
    */
  def bootstrap(diskstore: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.graft.store.{Diskstores, LiveCheckpoint, ReplicaGuard}
    import org.apache.hadoop.fs.Path
    val swept = diskstore match {
      case Some(n) => Seq(Diskstores.get(n).getOrElse(
        throw new IllegalArgumentException(
          s"BOOTSTRAP CATALOG FROM $n: diskstore does not exist")))
      case None => Diskstores.all
    }
    val out = Seq.newBuilder[(String, String, String, Long, String)]
    for (ds <- swept; d <- ds.dirs) {
      val dirPath = new Path(new java.io.File(d).getAbsolutePath)
      val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dirPath)) {
        fs.listStatus(dirPath).filter(_.isDirectory)
          .sortBy(_.getPath.getName).foreach { st =>
            val nm = st.getPath.getName.toLowerCase
            val dir = st.getPath.toString
            val ckpt = new Path(st.getPath, "layout.properties")
            val hasCkpt = fs.exists(ckpt)
            val epochs = LiveCheckpoint.committedEpochs(spark, dir)
            if (hasCkpt || epochs.nonEmpty) {
              val (source, epoch) =
                if (epochs.isEmpty) ("checkpoint", -1L)
                else if (!hasCkpt) ("epoch", epochs.last)
                else {
                  // both faces wrote here: newest durable state wins
                  val markerAt = fs.getFileStatus(new Path(
                    LiveCheckpoint.dirFor(dir, epochs.last),
                    LiveCheckpoint.MARKER)).getModificationTime
                  if (markerAt >= fs.getFileStatus(ckpt).getModificationTime)
                    ("epoch", epochs.last)
                  else ("checkpoint", -1L)
                }
              // "existing names win" is judged against the JVM-GLOBAL
              // registries, not just this session's map: another session
              // (JDBC) may own a live store table or matview under the
              // name, and recovery must never clobber live state —
              // store/matview presence skips exactly like a local name
              if (isManaged(nm) || ReplicaGuard.isReplica(nm) ||
                MatViews.isMatView(nm) ||
                org.apache.spark.sql.graft.store.GraftColumnStore.get(nm).isDefined ||
                org.apache.spark.sql.graft.store.GraftRowStore.get(nm).isDefined)
                out += ((nm, ds.name, source, epoch, "skipped_exists"))
              else if (source == "epoch") {
                LiveCheckpoint.attach(spark, nm, dir, epoch)
                registerEpochConstraints(nm, dir, epoch)
                registerFromStore(nm)
                ReplicaGuard.clear(nm) // owned (publisher recovery), not a replica
                // matview identity rides the epoch's own sidecar: the
                // recovered view registers STALE (sentinel fingerprint),
                // write-guarded, visible in sys.matviews; REFRESH revives
                registerMatviewSidecar(nm, LiveCheckpoint.dirFor(dir, epoch))
                Diskstores.bind(nm, ds.name)
                out += ((nm, ds.name, "epoch", epoch, "restored"))
              } else {
                restoreTable(nm, dir)
                Diskstores.bind(nm, ds.name)
                out += ((nm, ds.name, "checkpoint", -1L, "restored"))
              }
            }
          }
      }
    }
    spark.createDataFrame(out.result())
      .toDF("table_name", "diskstore", "source", "epoch", "action")
  }

  /** Adopt a store table another session created into THIS session's
    * managed map (the store registries are JVM-global, session temp
    * views are not) — the cross-session DML faces (e.g. a constrained
    * INSERT arriving over JDBC) route through here before the session
    * paths. No-op when already managed or not a store table.
    */
  def adoptFromStore(name: String): Unit = {
    val nm = normalize(name)
    if (!tables.contains(nm) &&
      (org.apache.spark.sql.graft.store.GraftColumnStore.get(nm).isDefined ||
        org.apache.spark.sql.graft.store.GraftRowStore.get(nm).isDefined)) {
      registerFromStore(nm)
    }
  }

  /** Register a table that already lives in this JVM's store registries
    * (row or column) as a managed table + temp view — the shared tail of
    * attachTable and bootstrap's epoch restore.
    */
  private def registerFromStore(nm: String): Unit = {
    import org.apache.spark.sql.graft.store.GraftRowStore
    if (GraftRowStore.get(nm).isDefined) {
      val df = GraftRowOps.read(spark, nm)
      df.createOrReplaceTempView(nm)
      val s = GraftRowStore(nm).snapshot
      tables.put(nm, TableState(df, s.keyColumns, s.bucketBy,
        math.max(s.numBuckets, 0), rowBacked = true))
    } else {
      val df = GraftStoreOps.read(spark, nm)
      df.createOrReplaceTempView(nm)
      val s = org.apache.spark.sql.graft.store.GraftColumnStore(nm).snapshot
      tables.put(nm, TableState(df, s.keyColumns, s.bucketBy,
        math.max(s.numBuckets, 0), storeBacked = true))
    }
  }

  def isManaged(name: String): Boolean = tables.contains(normalize(name))

  /** Catalog metadata of a managed table (layout introspection —
    * COLOCATE_WITH validation and the like).
    */
  def tableState(name: String): Option[TableState] = tables.get(normalize(name))

  /** True when the table lives in the graftstore column store (mutable
    * batches + stats pruning), not the cached-DataFrame fallback.
    */
  def isStoreBacked(name: String): Boolean =
    tables.get(normalize(name)).exists(_.storeBacked)

  /** SQL entry point: Snappy-specific statements (PUT INTO, UPDATE,
    * DELETE, CREATE POLICY, CREATE TABLE ... USING column AS ...) plus
    * everything stock Spark SQL parses. See [[GraftSql]].
    */
  def sql(text: String): DataFrame = GraftSql.sql(this, text)

  /** ALTER TABLE: rebuild the table from a transformed view of itself,
    * preserving keys/bucketing (reference SnappySession.alterTable —
    * there metadata-plus-rowstore-rewrite; here a relayout through the
    * normal bucketed write).
    */
  def alterTable(name: String)(f: DataFrame => DataFrame): DataFrame = {
    val st = stateOf(name)
    val nm = normalize(name)
    if (st.storeBacked || st.rowBacked) {
      // layout-PRESERVING rewrite: codec, eviction, TTL, sketch columns
      // and batch size survive the relayout (the naive rebuild through
      // createTable reset them all to defaults). alterRewrite checks the
      // ALTER grant — a destructive full-table rewrite is as privileged
      // as any DML.
      if (st.rowBacked) GraftRowOps.alterRewrite(spark, nm, f)
      else GraftStoreOps.alterRewrite(spark, nm, f)
      refreshManaged(nm)
      table(nm)
    } else {
      val next = f(table(name))
      st.keyColumns.foreach(k => require(next.columns.contains(k),
        s"alterTable($name) cannot drop key column $k"))
      st.partitionBy.foreach(p => require(next.columns.contains(p),
        s"alterTable($name) cannot drop bucket column $p"))
      // materialize BEFORE the overwrite drops the old table — the
      // transformed plan reads from it
      val frozen = next.localCheckpoint(true)
      createTable(name, frozen, st.keyColumns, st.partitionBy, st.buckets)
    }
  }

  /** Re-resolve a managed table's DataFrame/temp view after a relayout
    * changed its schema (ALTER through either route) — without this, the
    * session's registered view keeps planning the pre-ALTER relation
    * against the new store layout. No-op for unmanaged names.
    */
  def refreshManaged(name: String): Unit = {
    val nm = normalize(name)
    tables.get(nm).filter(st => st.storeBacked || st.rowBacked).foreach { st =>
      val df = org.apache.spark.sql.graft.PolicyRegistry.withBypass {
        scala.util.Try(spark.table(s"graft.$nm")).getOrElse(
          if (st.rowBacked) GraftRowOps.read(spark, nm)
          else GraftStoreOps.read(spark, nm))
      }
      df.createOrReplaceTempView(nm)
      tables.put(nm, st.copy(df = df))
    }
  }

  /** CREATE SAMPLE TABLE (reference SnappySession.createSampleTable:872):
    * a managed table holding a deterministic stratified sample of `base`
    * with `_weight` columns for AQP aggregates (operators.Aqp).
    */
  def createSampleTable(
      name: String,
      base: DataFrame,
      qcs: Seq[String],
      fraction: Double,
      reservoirFloor: Int = 50,
      rankKey: Seq[String]): DataFrame =
    createTable(name,
      graft.operators.Aqp.stratifiedSample(base, qcs, fraction, reservoirFloor, rankKey))

  /** base view name → registered sample tables (with their QCS),
    * consulted by the WITH ERROR rewrite (GraftSql + SampleRewrite).
    * Several samples may serve one base; the rewrite picks the one whose
    * QCS best matches the query's grouping (reference: HAC queries route
    * to the most appropriate sample table).
    */
  val samples: TrieMap[String, Vector[GraftSession.SampleInfo]] = TrieMap.empty

  /** Associate a base table/view with a sample table so `SELECT ...
    * WITH ERROR f` queries against the base are rewritten onto it.
    * `qcs` (the sample's stratification columns) drives selection when
    * several samples are registered; re-registering a sample name
    * replaces its entry. Pass `params` (the sample's build parameters)
    * to ALSO keep the sample fresh under [[insert]] on the base table —
    * the reference's `SampleInsertExec` fan-in
    * (execution/aqp/SampleInsertExec.scala:30).
    */
  def registerSample(baseTable: String, sampleTable: String,
      qcs: Seq[String] = Nil,
      params: Option[GraftSession.SampleParams] = None): Unit = {
    require(normalize(baseTable) != normalize(sampleTable),
      s"a table cannot be registered as its own sample: $baseTable")
    val info = GraftSession.SampleInfo(sampleTable.toLowerCase,
      qcs.map(_.toLowerCase), params, baseFingerprint(baseTable))
    samples.updateWith(baseTable.toLowerCase) {
      case Some(existing) =>
        Some(existing.filterNot(_.table == info.table) :+ info)
      case None => Some(Vector(info))
    }
  }

  /** Current freshness fingerprint of a sample's base, when the base is
    * a store table (None otherwise — views/external frames carry no
    * batch metadata to prove against).
    */
  private def baseFingerprint(
      base: String): Option[org.apache.spark.sql.graft.store.MatViews.MvFreshness] =
    GraftColumnStore.get(normalize(base))
      .map(t => org.apache.spark.sql.graft.store.MatViews.fingerprint(t.snapshot))

  /** Re-stratify a registered sample over the CURRENT base — the repair
    * path for the staleness `sys.samples.is_fresh` exposes (a base
    * DELETE/UPDATE skews a sample that only inserts fan into; the
    * reference has no repair at all — its SampleInsertExec fans inserts
    * and heavy rewrites demand a manual rebuild). Requires the sample's
    * build parameters (registered via [[registerSample]] /
    * CREATE SAMPLE TABLE). Returns "noop" when the recorded fingerprint
    * still proves the base unchanged, else rebuilds the sample table
    * with a fresh per-stratum reservoir draw and returns "rebuilt".
    *
    * Freshness discipline (matview rebuild's capture rule, advisory
    * here): the fingerprint is captured BEFORE the draw scans the base —
    * a mutation racing the rebuild leaves the recorded fingerprint
    * behind current truth, so `is_fresh` keeps reading false and the
    * next refresh converges. O-cost: one full base scan + sample write —
    * there is no cheaper correct path, since a deleted base row may have
    * been ANY sample row's stratum-mate (per-stratum counts and weights
    * all shift); the scan is a single pass, shuffled only by QCS.
    */
  def refreshSample(sampleName: String): String = {
    val sn = normalize(sampleName)
    val entry = samples.toSeq.collectFirst {
      case (base, infos) if infos.exists(_.table == sn) =>
        (base, infos.find(_.table == sn).get)
    }
    val (base, info) = entry.getOrElse(throw new IllegalArgumentException(
      s"refreshSample($sampleName): no sample registered under that name"))
    val p = info.params.getOrElse(throw new IllegalArgumentException(
      s"refreshSample($sampleName): registered without build parameters " +
        "(fraction/reservoir/rankKey) — re-register with params or rebuild manually"))
    val pre = baseFingerprint(base)
    if (info.fresh.isDefined && info.fresh == pre) "noop"
    else {
      val drawn = graft.operators.Aqp.stratifiedSample(
        table(base), info.qcs, p.fraction, p.reservoirFloor, p.rankKey)
      // mirror the sample table's layout from ITS OWN store snapshot —
      // a JDBC/other session may refresh a sample it didn't create
      // (rebuild() reads buckets the same way); session state is only
      // the fallback for non-store-backed samples
      val snapLayout = GraftColumnStore.get(sn).map(_.snapshot)
      val layout = tables.get(sn)
      createTable(sn, drawn,
        keyColumns = snapLayout.map(_.keyColumns.toSeq)
          .orElse(layout.map(_.keyColumns)).getOrElse(Nil),
        partitionBy = snapLayout.map(_.bucketBy.toSeq)
          .orElse(layout.map(_.partitionBy)).getOrElse(Nil),
        buckets = snapLayout.map(_.numBuckets).filter(_ > 0)
          .orElse(layout.map(_.buckets).filter(_ > 0)).getOrElse(32))
      samples.updateWith(normalize(base))(_.map(_.map(i =>
        if (i.table == sn) i.copy(fresh = pre) else i)))
      "rebuilt"
    }
  }

  /** createApproxTSTopK (reference SnappySession.createApproxTSTopK:958):
    * materialize per-time-bucket approximate top-k of `keyCol` as a
    * managed table queryable via [[queryApproxTSTopK]].
    */
  def createApproxTSTopK(
      name: String,
      base: DataFrame,
      keyCol: String,
      tsCol: String,
      timeInterval: String,
      k: Int,
      width: Int = 4096,
      depth: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, posexplode, window}
    val byEpoch = base.groupBy(window(c(tsCol), timeInterval).as("w"))
    // the Hokusai state: ONE serialized CMS+pool sketch per epoch —
    // range queries merge these, so a key that is big in aggregate but
    // never per-epoch-top-k still surfaces (reference
    // docs/sde/sketching.md; the materialized top-k rows below are the
    // human-readable table face, not the query path). `width` is the
    // CMS epsilon knob: size it ≳ 10× the per-epoch key cardinality or
    // a colliding background key can inflate into the top-k.
    // base_width records the CREATION width beside every epoch sketch:
    // decayApproxTSTopK derives its absolute fold target from it, which
    // is what makes retention re-runs no-ops (see the decay scaladoc)
    createTable(s"${name}_sketches", byEpoch
      .agg(org.apache.spark.sql.graft.CmsTopKAggregate
        .approx_topk_state(c(keyCol), k, width, depth).as("sketch"))
      .select(c("w.start").as("bucket_start"), c("w.end").as("bucket_end"),
        c("sketch"), org.apache.spark.sql.functions.lit(width).as("base_width")))
    val topk = byEpoch
      .agg(graft.functions.SketchFunctions.approx_topk(c(keyCol), k, width, depth)
        .as("topk"))
      .select(c("w.start").as("bucket_start"), c("w.end").as("bucket_end"),
        posexplode(c("topk")))
      .select(c("bucket_start"), c("bucket_end"), (c("pos") + 1).as("rank"),
        c("col.key").as("key"), c("col.count").as("count"))
    createTable(name, topk)
  }

  /** Hokusai time decay over a [[createApproxTSTopK]] store: fold the
    * CMS width of every epoch sketch whose bucket ENDED at or before
    * `olderThan` down to base_width/2^generations (memory shrinks 2^g,
    * the error bound widens by the same factor). Range queries keep
    * working across mixed widths: the merge aggregate folds fresh
    * sketches down to the oldest touched epoch's width
    * (CmsTopKMerge.aligned), so an answer carries the widest error
    * bound among the epochs it spans — exactly the Hokusai contract
    * (aged data answers coarser, recent data stays sharp, total state
    * is bounded instead of linear in history).
    *
    * TARGET-STATED, hence IDEMPOTENT: `generations` counts from the
    * store's CREATION width (the `base_width` column every sketch row
    * carries), so the fold target is an ABSOLUTE width and re-running
    * the same retention cutoff — a retried or crashed-and-rerun job —
    * is a no-op (sketches already at the target fold to themselves).
    * `minWidth` floors the target: no sequence of calls can fold a
    * sketch below it (or below the creation width, if that is already
    * smaller), so estimates cannot silently degrade toward width 1.
    * Legacy sketch tables that predate `base_width` fall back to the
    * RELATIVE halving of [[CmsTopKDecay]] (non-idempotent; recreate
    * the store to migrate).
    */
  def decayApproxTSTopK(name: String, olderThan: String,
      generations: Int = 1, minWidth: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, greatest, least, lit, shiftright}
    val st = s"${name}_sketches"
    // stores are JVM-global, the managed map is session-local: retention
    // over JDBC/Thrift runs from sessions that didn't create the store
    adoptFromStore(st)
    adoptFromStore(name)
    require(isManaged(st), s"decayApproxTSTopK($name): no sketch table $st — " +
      "created before the sketch sidecar existed, or not an approx-topk store")
    require(generations >= 0, "decayApproxTSTopK: generations must be >= 0")
    require(minWidth >= 1, "decayApproxTSTopK: minWidth must be >= 1")
    val aged = c("bucket_end") <= lit(olderThan).cast("timestamp")
    if (table(st).columns.contains("base_width")) {
      // clamp: an int shift masks its distance to 5 bits, so >>32 would
      // WRAP to a no-op instead of hitting the floor; 31 already shifts
      // any width to 0, letting the floor take over
      val g = math.min(generations, 31)
      val target = greatest(shiftright(c("base_width"), g),
        least(lit(minWidth), c("base_width")), lit(1))
      update(st, aged,
        "sketch" -> org.apache.spark.sql.graft.CmsTopKAggregate
          .approx_topk_decay_to(c("sketch"), target))
    } else {
      update(st, aged,
        "sketch" -> org.apache.spark.sql.graft.CmsTopKAggregate
          .approx_topk_decay(c("sketch"), generations))
    }
  }

  /** queryApproxTSTopK (reference SnappySession.queryApproxTSTopK:2162):
    * top-k within [start, end) by MERGING the per-epoch CMS sketches in
    * the range (counters add, so the answer equals a single sketch over
    * the union of the epochs — CmsTopKSpec pins it); falls back to
    * summing the materialized per-epoch top-k rows for topk tables
    * created before the sketch sidecar existed.
    */
  def queryApproxTSTopK(name: String, start: String, end: String, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit, posexplode, sum}
    val startTs = lit(start).cast("timestamp")
    val endTs = lit(end).cast("timestamp")
    if (isManaged(s"${name}_sketches")) {
      table(s"${name}_sketches")
        .filter(c("bucket_start") >= startTs && c("bucket_end") <= endTs)
        .agg(org.apache.spark.sql.graft.CmsTopKAggregate
          .approx_topk_merge(c("sketch"), k).as("topk"))
        .select(posexplode(c("topk")))
        .select(c("col.key").as("key"), c("col.count").as("count"))
        .orderBy(c("count").desc, c("key"))
        .limit(k)
    } else table(name)
      .filter(c("bucket_start") >= startTs && c("bucket_end") <= endTs)
      .groupBy(c("key"))
      .agg(sum(c("count")).as("count"))
      .orderBy(c("count").desc, c("key"))
      .limit(k)
  }

  /** TRUNCATE TABLE: empty the table, keep its layout (keys, bucketing,
    * provider) — reference SnappyDDLParser.truncateTable:627. Implemented
    * as a relayout from the empty relation, so sealed batches / row packs
    * are dropped rather than tombstoned.
    */
  // ---- materialized views (exact-summary tier; see store.MatViews) ----

  /** Pinned read of EXACTLY `ids` — build/refresh scans address the
    * batch set their freshness fingerprint describes, so a concurrent
    * append can never leak rows the fingerprint does not claim.
    */
  private def pinnedRead(base: String, ids: Set[Long]): DataFrame =
    if (ids.isEmpty) GraftStoreOps.read(spark, base).filter(lit(false))
    else spark.read.format(GraftStoreOps.FORMAT).option("table", base)
      .option("batch_ids", ids.mkString(",")).load()

  private def mvStorageNames(aggs: Seq[MatViews.MvAgg]): Seq[String] =
    aggs.zipWithIndex.flatMap { case (a, i) =>
      MatViewSupport.storageCols(a.func, i).map(_._1)
    }

  /** `df` cast column by column to a stored view schema: the merge's
    * sum() widens (decimal sums grow precision), putInto and the
    * overwrite need exactly the stored types.
    */
  private def mvConform(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fieldNames.toSeq.map(f =>
      col(f).cast(schema(f).dataType).as(f)): _*)

  /** Current freshness fingerprint of each table. */
  private def mvFingerprints(tables: Seq[String]): Map[String, MatViews.MvFreshness] =
    tables.map(t => t -> MatViews.fingerprint(GraftColumnStore(t).snapshot)).toMap

  /** The race re-proof shared by create, rebuild and the refresh paths:
    * payload ids never recycle, so a fingerprint still equal to the one
    * `captured` before a scan proves that no mutation committed across
    * the scan's snapshot pin. True when any table moved or is gone.
    */
  private def mvRaced(captured: Map[String, MatViews.MvFreshness]): Boolean =
    captured.exists { case (t, f) =>
      GraftColumnStore.get(t).forall(s => MatViews.fingerprint(s.snapshot) != f)
    }

  /** CREATE MATERIALIZED VIEW — materialize a grouped aggregate over one
    * store table into its own bucketed store table (bucketed AND keyed
    * by the group columns: rollup re-aggregation co-locates, and the
    * incremental refresh merges through the keyed-upsert path). The
    * optimizer substitutes the view for matching aggregates while the
    * freshness fingerprint proves it current — see
    * [[org.apache.spark.sql.graft.store.MatViewRewrite]].
    */
  def createMaterializedView(name: String, viewSql: String,
      buckets: Int = 32): DataFrame = MatViews.withMaintenanceLock(normalize(name)) {
    val nm = normalize(name)
    // the store registries are JVM-global while isManaged is session-
    // local: guard against a SECOND session (JDBC, bootstrap) silently
    // clobbering a same-named table/view created elsewhere
    require(!isManaged(nm) && GraftColumnStore.get(nm).isEmpty &&
      org.apache.spark.sql.graft.store.GraftRowStore.get(nm).isEmpty &&
      !MatViews.isMatView(nm),
      s"CREATE MATERIALIZED VIEW $nm: name in use")
    val analyzed = spark.sql(viewSql).queryExecution.analyzed
    val d = MatViewSupport.analyzeDefinition(analyzed)
    val base = d.tables.head._1
    // fingerprint BEFORE the pinned scan: concurrent mutations can only
    // make the view conservatively stale, never falsely fresh —
    // per-table for join views, a mutation in ANY member stales
    val freshAll = mvFingerprints(d.tables.map(_._1))
    val contents = mvContents(d.tables.map(_._1), d.joinConds,
      freshAll.view.mapValues(_.refIds).toMap, d.groupCols, d.groupQual,
      d.aggs, d.predicate)
    val df = MatViews.inMaintenance {
      createTable(nm, contents, keyColumns = d.groupCols,
        partitionBy = d.groupCols, buckets = buckets)
    }
    val joins = if (d.tables.size > 1) Some(MatViews.MvJoin(
      d.tables.map(_._1).sorted, d.joinConds, freshAll)) else None
    // post-build re-proof (same sandwich as refresh): a mutation racing
    // the build scan leaves content the captured fingerprint does not
    // describe — register DIRTY so the first refresh rebuilds instead
    // of running a delta path against an untrustworthy record
    MatViews.register(MatViews.MvDef(nm, base, d.groupCols, d.aggs, viewSql,
      freshAll(base), d.predicate, joins, d.groupQual, dirty = mvRaced(freshAll)))
    df
  }

  /** One table's read mode inside a view maintenance scan (the default
    * is the pinned live read). `MvDeletedRead`: emit only tombstoned
    * rows of the named batches, minus the per-batch RECORDED bitmaps in
    * `excludes` — i.e. exactly the rows deleted since the view's
    * fingerprint. `MvUpdatedRead`: emit only live rows addressed by
    * update deltas outside `since`, valued as of the recorded delta set
    * ("old") or the current one ("new").
    */
  private sealed trait MvTableRead
  /** `since`/`oldValues`: value the emitted tombstoned rows as of the
    * RECORDED delta set instead of the current one — the mixed-move
    * partial rebuild needs the groups a row contributed to at the last
    * refresh, which an update in the same window may have moved it out
    * of (valued current, such a row only reveals its NEW group).
    */
  private case class MvDeletedRead(ids: Set[Long],
      excludes: Map[Long, Long], since: Set[Long] = Set.empty,
      oldValues: Boolean = false) extends MvTableRead
  private case class MvUpdatedRead(ids: Set[Long], since: Set[Long],
      which: String) extends MvTableRead

  /** Pre-aggregation scan of a view's defining query over PINNED batch
    * sets — one table for plain views, an aliased equi-join chain for
    * star-schema views (each table aliased by its own name so the
    * canonical qualified conjuncts execute verbatim through expr()).
    * `special` swaps ONE table's frame for a maintenance read (the
    * subtractive / update O(delta) refreshes: the vanished or changed
    * join rows are that read ⋈ the other, untouched tables).
    */
  private def mvScan(tables: Seq[String], joinConds: Seq[String],
      pinnedIds: Map[String, Set[Long]],
      predicate: Seq[String],
      special: Option[(String, MvTableRead)] = None): DataFrame = {
    def frame(t: String): DataFrame = special match {
      case Some((mt, MvDeletedRead(ids, excludes, since, oldValues))) if mt == t =>
        val r0 = spark.read.format(GraftStoreOps.FORMAT).option("table", t)
          .option("batch_ids", ids.mkString(","))
          .option("deleted_rows", "true")
        val r1 = if (excludes.isEmpty) r0 else r0.option("exclude_bitmaps",
          excludes.map { case (b, m) => s"$b:$m" }.mkString(","))
        // deleted visibility + RECORDED-delta value overlay compose in
        // the reader (visibility checks deletedOnly first)
        (if (!oldValues) r1 else r1.option("updated_rows", "old")
          .option("since_deltas", since.mkString(","))).load()
      case Some((mt, MvUpdatedRead(ids, since, which))) if mt == t =>
        spark.read.format(GraftStoreOps.FORMAT).option("table", t)
          .option("batch_ids", ids.mkString(","))
          .option("updated_rows", which)
          .option("since_deltas", since.mkString(",")).load()
      case _ => pinnedRead(t, pinnedIds(t))
    }
    val scan =
      if (tables.size == 1) {
        predicate.foldLeft(frame(tables.head))(
          (df, p) => df.filter(expr(p)))
      } else {
        // join following the condition graph's connectivity; conditions
        // whose BOTH sides are already joined apply as filters
        val frames: Map[String, DataFrame] = tables.map(t =>
          t -> frame(t).as(t)).toMap
        def tablesOf(c: String): Seq[String] =
          "`([^`]+)`\\.".r.findAllMatchIn(c).map(_.group(1)).toSeq.distinct
        var joined = Set(tables.head)
        var df = frames(tables.head)
        var remaining = joinConds
        while (joined.size < tables.size) {
          val (usable, rest0) = remaining.partition(c =>
            tablesOf(c).exists(joined.contains))
          require(usable.nonEmpty, s"matview build: disconnected join graph " +
            s"(remaining: ${remaining.mkString("; ")})") // refused at CREATE
          usable.foreach { c =>
            val newTs = tablesOf(c).filterNot(joined.contains)
            if (newTs.isEmpty) df = df.filter(expr(c))
            else {
              // one conjunct joins at most one new table (equi-join of
              // two sides); join it on this condition
              val t = newTs.head
              df = df.join(frames(t), expr(c))
              joined += t
            }
          }
          remaining = rest0
        }
        remaining.foreach(c => df = df.filter(expr(c)))
        predicate.foldLeft(df)((d0, p) => d0.filter(expr(p)))
      }
    scan
  }

  /** Group-key columns of a view scan: qualified resolution for join
    * views, bare storage names either way.
    */
  private def mvKeys(groupCols: Seq[String],
      groupQual: Seq[String]): Seq[org.apache.spark.sql.Column] =
    if (groupQual.nonEmpty) groupQual.zip(groupCols).map { case (q, b) =>
      expr(q).as(b) // qualified resolution, bare storage name
    } else groupCols.map(col)

  /** Build / delta contents of a view's defining query: [[mvScan]]
    * aggregated through the storage-column shape.
    */
  private def mvContents(tables: Seq[String], joinConds: Seq[String],
      pinnedIds: Map[String, Set[Long]], groupCols: Seq[String],
      groupQual: Seq[String], aggs: Seq[MatViews.MvAgg],
      predicate: Seq[String],
      special: Option[(String, MvTableRead)] = None): DataFrame = {
    val cols = MatViewSupport.buildAggs(aggs)
    val keys = mvKeys(groupCols, groupQual)
    mvScan(tables, joinConds, pinnedIds, predicate, special)
      .groupBy(keys: _*).agg(cols.head, cols.tail: _*)
  }


  /** REFRESH MATERIALIZED VIEW. Returns the path taken:
    * "noop" | "incremental" | "incremental_multi" | "incremental_delete" |
    * "incremental_update" | "partial" | "full".
    *
    * ONE PRODUCER. `signedDelta` turns the base move since the recorded
    * fingerprint into signed rows in VIEW SHAPE (the storage columns of
    * the defining aggregate):
    *  - pure appends: one telescoped O(delta) term per moving table
    *    ("incremental"; several movers "incremental_multi", see
    *    `telescopedAppendDeltas`);
    *  - a delete-only move: the NEGATED aggregate of a `deleted_rows`
    *    read of exactly the moved batches ("incremental_delete");
    *  - an update-only move: the aggregate of the `updated_rows` read
    *    valued "new" plus the negated one valued "old"
    *    ("incremental_update") — a row that moved between groups or
    *    across the view predicate nets correctly on both sides.
    * Deletes and updates need exactly ONE moving table (for a join view
    * from either side: its delta rows ⋈ the other, fingerprint-identical
    * tables are exactly the vanished or changed join rows), an unchanged
    * batch set (a delete that empties a batch drops it from the store,
    * and its rows cannot be re-read; deltas may only grow), and the
    * INVERTIBILITY gate: every aggregate is sum/count/count(*)/avg
    * (min/max/HLL cannot un-see a value), the view carries a count(*)
    * slot (group emptiness), and every sum/avg input is NON-NULLABLE in
    * the base schema (removing the last non-null value would have to
    * flip the stored sum to NULL, which subtraction cannot know). A
    * repeat delete reads current-minus-recorded bitmaps: the recorded
    * payloads are PINNED by MatViews.register against the GC that the
    * superseding union swap would otherwise trigger, and resolve
    * task-side as exclude masks.
    *
    * TWO SINKS. Grouped views take ONE keyed merge: the addressed view
    * rows whose key is in the delta, unioned with the delta, merged by
    * key and written through putIntoAddressed. A group the view never
    * saw is inserted; a group whose count reaches 0 stays as a zero row
    * that the rewrite masks (`__gN_cnt > 0`) until the next rebuild
    * compacts it, so the merge never collects keys to the driver and
    * stays O(delta) at any group cardinality. GLOBAL views (no GROUP BY)
    * hold one row: the stored row folds with the delta into one row
    * that overwrites the table (the O(table) part of a rebuild is its
    * base scan, which the delta reads replace); an emptied global view
    * keeps its zero-count row, which the count mask turns back into
    * empty-input semantics (count 0, sum NULL) at serve time.
    *
    * TWO FALLBACKS, when the move has no signed delta. A one-table move
    * that the gate declines, a mixed update+delete move, or a delete
    * whose recorded bitmaps no longer resolve takes the GROUP-PRUNED
    * partial rebuild (see `partialRebuild`): O(affected groups' data).
    * Anything else rebuilds in full: a changed batch set (appends mixed
    * with mutations, emptied batches, compaction), TTL expiry, a
    * mutating table among several movers, a global view the gate
    * declines, NULL group keys in the delta, a DIRTY registration.
    *
    * RACE SANDWICH. Both sinks check, after the delta materializes, that
    * no base fingerprint moved since `freshNow` (see `racedMutation`)
    * and rebuild otherwise; the overwrite, partial and full paths
    * re-prove after writing and register DIRTY on a race.
    */
  def refreshMaterializedView(name: String): String =
      MatViews.withMaintenanceLock(normalize(name)) {
    val nm = normalize(name)
    // re-read INSIDE the lock: a refresh that raced here sees the
    // winner's fingerprint and no-ops instead of re-merging its delta
    val mv = MatViews.get(nm).getOrElse(throw new IllegalArgumentException(
      s"REFRESH MATERIALIZED VIEW $nm: not a materialized view"))
    val tables = mv.allTables
    val snaps = tables.map { t =>
      t -> GraftColumnStore.get(t).getOrElse(throw new IllegalStateException(
        s"matview $nm: base table $t is gone")).snapshot
    }.toMap
    val freshNow = snaps.map { case (t, s) => t -> MatViews.fingerprint(s) }
    def recorded(t: String): MatViews.MvFreshness =
      mv.joins.map(_.fresh.getOrElse(t,
        MatViews.MvFreshness(Set(-1L), Map.empty))).getOrElse(mv.fresh)
    // per-table classification drives the path choice: identical
    // tables carry, append-only tables telescope, ONE mutating table
    // takes the delete/update/partial paths, anything else rebuilds
    def identical(t: String): Boolean = {
      val f = recorded(t)
      freshNow(t).refIds == f.refIds && freshNow(t).fp == f.fp
    }
    def appendOnly(t: String): Boolean = {
      val f = recorded(t)
      f.refIds.subsetOf(freshNow(t).refIds) &&
        snaps(t).mutationState(f.refIds) == f.fp
    }
    def register(fresh: Map[String, MatViews.MvFreshness], dirty: Boolean): Unit =
      MatViews.register(mv.copy(fresh = fresh(mv.base),
        joins = mv.joins.map(_.copy(fresh = fresh)), dirty = dirty))
    // signed-delta safety: a base mutation committing between the
    // freshNow capture above and a delta scan's snapshot pin would make
    // the delta disagree with the fingerprint this refresh RECORDS —
    // the next refresh would then re-apply part of it (double-subtract /
    // double-add) and, fingerprint finally matching, SERVE the corrupt
    // summary. Checked AFTER the delta materializes, sandwiching the
    // scan's pin (see mvRaced). On a race the caller falls back to
    // rebuild(), whose re-aggregation is idempotent against current
    // truth (a stale-fingerprint rebuild never serves and the next
    // refresh converges).
    def racedMutation(): Boolean = mvRaced(freshNow)
    val conds = mv.joins.map(_.conds).getOrElse(Nil)
    val ids = freshNow.view.mapValues(_.refIds).toMap
    val storage = mvStorageNames(mv.aggs)
    def contents(pinned: Map[String, Set[Long]],
        special: Option[(String, MvTableRead)] = None): DataFrame =
      mvContents(tables, conds, pinned, mv.groupCols, mv.groupQual, mv.aggs,
        mv.predicate, special)
    // the single-statement overwrite of the backing table (rebuild and
    // the global sink). Buckets from the backing table's OWN snapshot,
    // not session state: a JDBC/other session may refresh a view it
    // didn't create (captured BEFORE the rewrite: a failed createTable
    // drops the old table, and the retry must still know the layout).
    // createTable's supersede rule unregisters the view up front — a
    // FAILED overwrite must not leave it silently vanished (no guard, no
    // sys.matviews row, retry refused): restore the old registration
    // (still stale, so it never serves) and rethrow
    def overwrite(rows: DataFrame): Unit = {
      val buckets = math.max(
        GraftColumnStore.get(nm).map(_.snapshot.numBuckets).getOrElse(32), 1)
      try MatViews.inMaintenance {
        createTable(nm, rows, keyColumns = mv.groupCols,
          partitionBy = mv.groupCols, buckets = buckets)
      } catch { case e: Throwable => MatViews.register(mv); throw e }
    }
    def rebuild(): String = {
      // freshness RE-CAPTURED at rebuild start: rebuild is also the
      // fallback when freshNow itself was raced (racedMutation), and
      // the build scan reads CURRENT per-batch state — registering the
      // older freshNow over newer content would hand the next refresh's
      // delta paths (which now trust recorded bitmaps/deltas) a
      // fingerprint that no longer describes the stored rows
      val fresh2 = mvFingerprints(tables)
      overwrite(contents(fresh2.view.mapValues(_.refIds).toMap))
      // post-build re-proof against the rebuild's OWN capture: on a race
      // the content/fingerprint pairing is unprovable — register DIRTY,
      // which is stale to the rewrite AND forces the next refresh to
      // rebuild instead of running a delta path against it
      register(fresh2, dirty = mvRaced(fresh2))
      "full"
    }
    // ONE fingerprint-diff walk classifies the moving table: the moved
    // batch ids, the RECORDED update-delta ids (`since` — globally
    // unique, so a flat set addresses every column), and which state
    // kinds moved. None when the batch set changed or any delta set
    // shrank (appends-with-mutations, emptied batches, compaction) —
    // the rebuild cases. bitmapsMoved/deltasGrew drive the dispatch:
    // exactly one ⇒ the specialized delete/update paths, both ⇒ the
    // mixed partial path. A single walk keeps the three classifications
    // structurally incapable of diverging.
    final case class MvMove(moved: Set[Long], since: Set[Long],
        bitmapsMoved: Boolean, deltasGrew: Boolean)
    def classifyMove(t: String): Option[MvMove] = {
      val f = recorded(t)
      if (freshNow(t).refIds != f.refIds) return None
      val now = freshNow(t).fp
      val moved = f.refIds.filter(id => now.get(id) != f.fp.get(id))
      if (moved.isEmpty) return None
      val since = Set.newBuilder[Long]
      var bm = false
      var upd = false
      val ok = moved.forall { id =>
        (f.fp.get(id), now.get(id)) match {
          case (Some((oldBm, oldUpd)), Some((newBm, newUpd))) =>
            if (oldBm != newBm) bm = true
            if (oldUpd != newUpd) upd = true
            since ++= oldUpd
            // deltas may only GROW (they append between compactions);
            // a bitmap can only appear or be superseded, never vanish
            // (a fully-deleted batch drops and changes refIds above)
            oldUpd.toSet.subsetOf(newUpd.toSet) &&
              (oldBm == newBm || newBm.isDefined)
          case _ => false
        }
      }
      if (ok) Some(MvMove(moved, since.result(), bm, upd)) else None
    }
    // the per-moved-batch RECORDED bitmap ids (the exclude masks of the
    // deleted_since read), when every recorded payload still resolves.
    // MatViews.register pins them against the superseding union swap's
    // GC, so None only for registrations that predate pinning or whose
    // record raced a concurrent mutation — those take the partial path.
    def deleteExcludes(t: String, moved: Set[Long]): Option[Map[Long, Long]] = {
      val f = recorded(t)
      val excl = Map.newBuilder[Long, Long]
      val ok = moved.forall { id =>
        f.fp.get(id).flatMap(_._1) match {
          case Some(ob) =>
            if (GraftColumnStore.BatchRegistry.hasBitmap(ob)) {
              excl += id -> ob; true
            } else false
          case None => true // first delete on this batch
        }
      }
      if (ok) Some(excl.result()) else None
    }
    def subtractable: Boolean = {
      // agg inputs are bare names for single-table views, canonical
      // `` `t`.`c` `` for join views — nullability resolves against the
      // OWNING table's snapshot schema
      def nonNullable(in: String): Boolean = {
        val (tbl, c) = in match {
          case MatViewRefresh.QualCol(t, cc) => (t, cc)
          case _ => (mv.base, in.stripPrefix("`").stripSuffix("`"))
        }
        snaps.get(tbl).exists(_.schema.fields
          .find(_.name.equalsIgnoreCase(c)).exists(!_.nullable))
      }
      mv.aggs.exists(_.func == "count_star") && mv.aggs.forall(a => a.func match {
        case "count_star" | "count" => true
        case "sum" | "avg" => nonNullable(a.input)
        case _ => false // min/max/approx_distinct cannot un-see a value
      })
    }
    // group-pruned partial rebuild: re-aggregate ONLY the groups in
    // `touchedKeys` from the CURRENT base (left-semi restriction —
    // broadcast for small key sets, and the store scan's runtime
    // filtering prunes batches by the realized keys), merge through
    // putInto, and DELETE summary rows whose group vanished entirely.
    // O(affected groups' data), never O(table) — the path non-invertible
    // aggregates (min/max, nullable measures) take after deletes or
    // updates. Re-aggregating an already-correct group is idempotent,
    // so a SUPERSET of the truly-affected keys is always safe.
    // Pruning-aware demotion (r14 What's-wrong #1): "partial" beats a
    // rebuild only when the touched group keys let the store scan PRUNE
    // batches — under a uniform (unclustered) layout, or when the
    // touched keys span every group, the semi-join-restricted
    // re-aggregate reads EVERY batch and then pays the keyed
    // merge/deleteKeys on top: strictly worse than rebuild below the
    // scale where rewriting the whole summary dominates. The probe is
    // driver-metadata-only — one 2-value agg over the (checkpointed)
    // touched-keys frame for the bounds, then a walk of the base's
    // batch-stat ranges. Demotes ONLY small bases (row cap, default
    // 50M): above it the partial path's O(affected-groups) asymptotics
    // win regardless of layout, so the 100 TB target never demotes.
    // Scoped to single-table views (a join view's partial scan cost is
    // not one table's batch list). `CREATE INDEX(<group col>)` clusters
    // the layout so the probe proves pruning and "partial" stays —
    // sys.matviews surfaces that advice (layout_advice).
    def partialCannotPrune(touched: DataFrame): Boolean = {
      if (!spark.conf.get("spark.sql.graft.matview.partialDemote.enabled",
          "true").toBoolean) return false
      if (mv.joins.isDefined || mv.groupCols.isEmpty) return false
      val snap = GraftColumnStore.get(mv.base).map(_.snapshot)
        .getOrElse(return false)
      // tiny batch lists (toy tables, one batch per bucket) have nothing
      // meaningful to prune AND nothing meaningful to demote — partial
      // vs rebuild is a wash there; stay on the architecturally-right path
      if (snap.refs.size < 8) return false
      val comparable = mv.groupCols.filter { c =>
        val i = snap.schema.fieldNames.indexOf(c)
        i >= 0 && GraftColumnStore.statsComparable(snap.schema.fields(i).dataType)
      }
      if (comparable.isEmpty) return false // no stats: can't prove either way
      // demote only on PROOF — a column the probe cannot evaluate (stats
      // missing, values unconvertible) must never read as "unprunable";
      // the MOST selective group column decides (if any column's stats
      // skip a meaningful batch share, the partial scan prunes)
      def demote(fractions: Seq[Option[Double]]): Boolean =
        fractions.forall(_.isDefined) && fractions.flatten.max < 0.25
      // SMALL touched sets take the per-KEY probe (bounded driver read,
      // ≤64 keys): it has the scan's realized runtime filter's power —
      // per-key range + string-bloom membership — so it cannot
      // mispredict when the keys straddle the column's range on a
      // clustered layout. Its verdict therefore holds at ANY base size:
      // an unprunable partial is a strict pessimization at every scale
      // (both paths scan O(table); partial adds the semi-join, keyed
      // merge, and vanished-group pass — measured 2.9x worse at 153M
      // rows, PERF_NOTES §44), so no row cap applies here.
      val few = touched.limit(65).collect()
      if (few.isEmpty) return false // empty delta: partial is a near-free no-op
      if (few.length <= 64) {
        return demote(comparable.map { c =>
          org.apache.spark.sql.graft.store.BatchPruning.prunableFractionKeys(
            snap, c, few.map(_.getAs[Any](c)).distinct.toSeq)
        })
      }
      // LARGE touched sets: the bounds probe, capped — min/max of many
      // keys usually spans the range anyway, and a bounds misprediction
      // above the cap would turn a potentially-pruned partial into a
      // full summary rebuild at 100 TB, so the cap hedges it
      val cap = spark.conf.get(
        "spark.sql.graft.matview.partialDemote.maxBaseRows", "50000000").toLong
      if (snap.refs.map(_.numRows.toLong).sum > cap) return false
      val aggCols = comparable.flatMap(c => Seq(min(col(c)), max(col(c))))
      val bounds = touched.agg(aggCols.head, aggCols.tail: _*).head()
      if (bounds.isNullAt(0)) return false
      demote(comparable.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.graft.store.BatchPruning.prunableFraction(
          snap, c, bounds.get(2 * i), bounds.get(2 * i + 1))
      })
    }
    def partialRebuild(touchedKeys: DataFrame): String = {
      val touched = touchedKeys.distinct().localCheckpoint(false)
      // NULL group keys defeat the keyed semi-join/putInto/deleteKeys
      if (touched.filter(mv.groupCols.map(col(_).isNull)
          .reduce(_ || _)).take(1).nonEmpty) return rebuild()
      if (partialCannotPrune(touched)) return rebuild()
      val cols = MatViewSupport.buildAggs(mv.aggs)
      val refreshed = mvScan(tables, conds, ids, mv.predicate)
        .join(touched, mv.groupCols, "left_semi")
        .groupBy(mvKeys(mv.groupCols, mv.groupQual): _*)
        .agg(cols.head, cols.tail: _*)
        .localCheckpoint(false)
      val conformed = mvConform(refreshed, GraftColumnStore(nm).schema)
      // groups whose every contributing row vanished produce no
      // refreshed row: their summary rows delete by key (the view table
      // is keyed by the group columns). Guarded — both inputs are
      // checkpointed, so the emptiness probe is a cheap local join,
      // while an unconditional deleteKeys would run the bitmap job on
      // every refresh (the common case has no vanished groups).
      val vanished = touched.join(
        refreshed.select(mv.groupCols.map(col): _*), mv.groupCols, "left_anti")
      MatViews.inMaintenance {
        if (vanished.take(1).nonEmpty) GraftStoreOps.deleteKeys(spark, nm, vanished)
        GraftStoreOps.putInto(spark, nm, conformed,
          sourceKeyUnique = true) // groupBy(key) / unique-join output
      }
      // the partial path's refreshed groups reflect SCAN-time truth
      // (its re-aggregate intentionally reads current state), so a
      // mutation racing it leaves content the freshNow fingerprint does
      // not describe — register DIRTY on a race (stale to the rewrite,
      // and the next refresh rebuilds instead of trusting the record)
      register(freshNow, dirty = racedMutation())
      "partial"
    }
    val moving = tables.filterNot(identical)
    // telescoping over the moving tables: V(A,B,…) − V(A₀,B₀,…) =
    // Σᵢ [V(cur₁..ᵢ, rec ᵢ₊₁..ₖ) − V(cur₁..ᵢ₋₁, rec ᵢ..ₖ)] — term i
    // scans ONLY table i's new batches, paired with the CURRENT batches
    // of already-processed movers and the RECORDED batches of
    // not-yet-processed ones (identical tables pin either way, they
    // carry). Each term is O(that table's delta); the union of the k
    // terms is exactly the view rows that did not exist at the last
    // refresh, with no pair counted twice.
    def telescopedAppendDeltas(movers: Seq[String]): Seq[DataFrame] = {
      var done = Set.empty[String]
      movers.map { m =>
        val pinned = tables.map { t =>
          t -> (if (t == m) freshNow(t).refIds -- recorded(t).refIds
          else if (movers.contains(t) && !done.contains(t)) recorded(t).refIds
          else freshNow(t).refIds)
        }.toMap
        done += m
        contents(pinned)
      }
    }
    // the one classification of a single moving table, shared by the
    // signed producer and the partial fallback
    lazy val move = classifyMove(moving.head)
    // the signed-delta producer: storage-shaped terms whose union, merged
    // into the stored rows, yields the view over the current base — or
    // None when the move cannot be inverted (the fallbacks take it)
    def signedDelta(): Option[(Seq[DataFrame], String)] = {
      def negate(df: DataFrame): DataFrame = storage.foldLeft(df)((d, n) =>
        d.withColumn(n, -col(n)))
      if (moving.forall(appendOnly))
        Some((telescopedAppendDeltas(moving),
          if (moving.size > 1) "incremental_multi" else "incremental"))
      else if (moving.size > 1 || !subtractable) None
      else move match {
        case Some(MvMove(moved, _, true, false)) => // deletes only
          deleteExcludes(moving.head, moved).map(excl => (Seq(negate(contents(
            ids, Some((moving.head, MvDeletedRead(moved, excl)))))),
            "incremental_delete"))
        case Some(MvMove(moved, since, false, true)) => // updates only
          def side(which: String) = contents(ids,
            Some((moving.head, MvUpdatedRead(moved, since, which))))
          Some((Seq(side("new"), negate(side("old"))), "incremental_update"))
        case _ => None
      }
    }
    // stored rows ∪ signed delta, merged by group key (no key: one
    // global row) and conformed to the stored schema
    def merge(rows: DataFrame, delta: DataFrame): DataFrame = {
      val mergeCols = MatViewSupport.mergeAggs(storage)
      mvConform(rows.unionByName(delta).groupBy(mv.groupCols.map(col): _*)
        .agg(mergeCols.head, mergeCols.tail: _*), rows.schema)
    }
    // the keyed sink of every grouped signed path
    def keyedMerge(terms: Seq[DataFrame], path: String): String = {
      val delta = terms.reduce(_ unionByName _).localCheckpoint(false)
      // a NULL group key defeats the equality-keyed merge (and putInto's
      // key matching) — correctness wins: full rebuild
      if (delta.filter(mv.groupCols.map(col(_).isNull).reduce(_ || _))
          .take(1).nonEmpty || racedMutation()) return rebuild()
      // ADDRESSED view read, semi-joined against the delta keys ONCE and
      // checkpointed: the same touched frame feeds the merge (values) AND
      // putIntoAddressed's delete side (_bid/_rid) — one view pass per
      // refresh instead of putInto re-deriving this semi join
      val touched = GraftStoreOps.readAddressed(spark, nm) // session-independent
        .join(delta.select(mv.groupCols.map(col): _*), mv.groupCols, "left_semi")
        .localCheckpoint(false)
      MatViews.inMaintenance {
        // source: groupBy(key) output — key-unique; matched: the view
        // rows whose key ∈ delta keys, exactly putInto's address set
        GraftStoreOps.putIntoAddressed(spark, nm,
          merge(touched.drop("_bid", "_rid"), delta), touched)
      }
      register(freshNow, dirty = false)
      path
    }
    // the single-row sink of global views: the merged row materializes
    // (eager checkpoint) BEFORE the overwrite drops the row it reads
    def globalOverwrite(terms: Seq[DataFrame], path: String): String = {
      val merged = merge(GraftStoreOps.read(spark, nm), // session-independent
        terms.reduce(_ unionByName _)).localCheckpoint(true)
      if (racedMutation()) return rebuild()
      overwrite(merged)
      register(freshNow, dirty = racedMutation())
      path
    }
    // the non-invertible fallback of a single moving table: the partial
    // rebuild re-aggregates the groups the move touched
    def partialFallback(): String = {
      val t = moving.head
      def updKeys(moved: Set[Long], since: Set[Long], which: String) =
        mvScan(tables, conds, ids, mv.predicate,
          special = Some((t, MvUpdatedRead(moved, since, which))))
          .select(mvKeys(mv.groupCols, mv.groupQual): _*)
      def delKeys(moved: Set[Long], since: Set[Long], oldValues: Boolean) =
        mvScan(tables, conds, ids, mv.predicate,
          special = Some((t, MvDeletedRead(moved, Map.empty, since, oldValues))))
          .select(mvKeys(mv.groupCols, mv.groupQual): _*)
      move match {
        case Some(MvMove(moved, _, true, false)) => // deletes only
          // affected groups = groups of ALL tombstoned rows in the
          // moved batches — a superset of the newly-tombstoned
          // (idempotent to re-aggregate), needing no recorded
          // payload; deltas carried, so current values ARE the
          // values the summary saw
          partialRebuild(delKeys(moved, Set.empty, oldValues = false))
        case Some(MvMove(moved, since, false, true)) => // updates only
          // both sides: an update can move a row between groups or
          // across the view predicate — old and new keys both touch
          partialRebuild(updKeys(moved, since, "old")
            .unionByName(updKeys(moved, since, "new")))
        case Some(MvMove(moved, since, _, _)) => // mixed update + delete
          // affected groups = tombstoned rows' groups valued BOTH ways
          // (an update may have moved a row between groups — or across
          // the predicate — before its delete, and the updated-rows
          // reads cannot see it: they filter on the current bitmap)
          // ∪ the surviving updated rows' old+new groups
          partialRebuild(delKeys(moved, since, oldValues = false)
            .unionByName(delKeys(moved, since, oldValues = true))
            .unionByName(updKeys(moved, since, "old"))
            .unionByName(updKeys(moved, since, "new")))
        case None => rebuild() // expiry, emptied batches, compaction …
      }
    }
    // A DIRTY registration rebuilds unconditionally: its recorded
    // fingerprint does not describe its content (a prior refresh
    // detected a racing mutation), so no delta may trust it.
    if (mv.dirty) rebuild()
    else if (moving.isEmpty) "noop"
    else signedDelta() match {
      case Some((terms, path)) =>
        if (mv.groupCols.isEmpty) globalOverwrite(terms, path)
        else keyedMerge(terms, path)
      // a global view has no groups to prune; a MUTATING table among
      // several movers would need recorded-state reads of the OTHER
      // movers' mutations too — out of the telescoping algebra
      case None if mv.groupCols.isEmpty || moving.size > 1 => rebuild()
      case None => partialFallback()
    }
  }
  def dropMaterializedView(name: String): Unit =
      MatViews.withMaintenanceLock(normalize(name)) {
    val nm = normalize(name)
    require(MatViews.isMatView(nm),
      s"DROP MATERIALIZED VIEW $nm: not a materialized view")
    MatViews.unregister(nm)
    if (isManaged(nm)) dropTable(nm)
    else GraftColumnStore.drop(nm) // dropped from a session that didn't create it
  }

  /** SYS.MATVIEWS: one row per materialized view — base, shape, LIVE
    * freshness verdict (the same metadata proof the rewrite gates on).
    * Metadata-only like every sys relation.
    */
  def sysMatviews: DataFrame = {
    val rows = MatViews.all.map { m =>
      // layout advisory (r14 What's-wrong #1): a single-table view whose
      // base is NOT clustered by a group column takes the partial
      // refresh path without batch pruning — on small bases the refresh
      // demotes to a full rebuild (partialCannotPrune), and at any scale
      // `CREATE INDEX(<group col>)` turns "partial" into a genuinely
      // pruned O(affected-groups) scan. Metadata-only: the base
      // snapshot's `sortedBy` vs the view's group columns.
      val advice =
        if (m.joins.isDefined || m.groupCols.isEmpty) ""
        else GraftColumnStore.get(m.base).map(_.snapshot) match {
          case Some(s) if s.refs.size >= 4 &&
              !s.sortedBy.exists(m.groupCols.contains) &&
              !s.bucketBy.exists(m.groupCols.contains) =>
            s"cluster ${m.base} by a group column for pruned partial " +
              s"refresh: CREATE INDEX ${m.base}_gk ON ${m.base} " +
              s"(${m.groupCols.head})"
          case _ => ""
        }
      (m.name, m.allTables.mkString(","), m.groupCols.mkString(","),
        m.aggs.map(a => s"${a.func}(${if (a.input.isEmpty) "*" else a.input})")
          .mkString(","),
        MatViews.isFresh(m), advice, m.sql)
    }
    spark.createDataFrame(rows).toDF("name", "base_table", "group_columns",
      "aggregates", "is_fresh", "layout_advice", "definition")
  }

  def truncateTable(name: String): DataFrame = {
    requireWritable(name, "truncateTable")
    val nm = normalize(name)
    // referential restrict + identity reset (both Derby-heritage
    // behaviors: TRUNCATE refuses while a foreign key references the
    // table, and resets the identity counter to its START WITH)
    locally {
      import org.apache.spark.sql.graft.Constraints
      val refs = Constraints.childrenOf(nm).filterNot(_._1 == nm)
      require(refs.isEmpty, s"cannot truncate $nm: referenced by foreign key " +
        refs.map { case (c, f) => s"${f.name} on $c" }.mkString(", "))
      Constraints.get(nm).flatMap(_.identity).foreach(_.nextOrdinal.set(0L))
    }
    alterTable(name)(df => df.filter(lit(false)))
  }

  def dropTable(name: String): Unit = {
    require(!isSynonym(name),
      s"DROP TABLE $name: name is a synonym — use DROP SYNONYM")
    val nm = normalize(name)
    locally {
      import org.apache.spark.sql.graft.Constraints
      val refs = Constraints.childrenOf(nm).filterNot(_._1 == nm)
      require(refs.isEmpty, s"cannot drop $nm: referenced by foreign key " +
        refs.map { case (c, f) => s"${f.name} on $c" }.mkString(", "))
      Constraints.drop(nm)
    }
    // ANN indexes are subordinate objects: DROP TABLE drops them and
    // releases their state tables (standard index semantics — unlike FK
    // children, which refuse above)
    graft.operators.AnnIndexes.list.filter(_.table == nm)
      .foreach(m => graft.operators.AnnIndexes.drop(spark, m.name))
    // matviews are subordinate too: dropping the base drops its views
    // (an orphaned view could never refresh again); dropping a matview's
    // own table directly just deregisters it
    org.apache.spark.sql.graft.store.MatViews.involving(nm)
      .foreach(m => dropMaterializedView(m.name))
    org.apache.spark.sql.graft.store.MatViews.unregister(nm)
    org.apache.spark.sql.graft.store.ReplicaGuard.clear(nm)
    tables.remove(nm).foreach { st =>
      if (st.rowBacked) GraftRowStore.drop(nm)
      else if (st.storeBacked) GraftColumnStore.drop(nm)
      else st.df.unpersist(blocking = false)
    }
    // retire every sample registration involving the table — a stale
    // entry would make the next base-table INSERT fail inside
    // maintainSamples (fan-in to a dropped sample), after the base
    // write already committed
    samples.remove(nm)
    samples.mapValuesInPlace { (_, infos) => infos.filterNot(_.table == nm) }
    org.apache.spark.sql.graft.store.Diskstores.unbind(nm)
    spark.catalog.dropTempView(nm)
  }

  /** Live statistics of every managed table — the reference's
    * `SYS.TABLESTATS` virtual table (its dashboards poll
    * `select * from sys.TABLESTATS`). METADATA-ONLY: counts/sizes come
    * from snapshot refs, no table is scanned; cached-DataFrame fallback
    * tables report row_count -1 (a count would run a job).
    */
  def tableStats: DataFrame = {
    val rows = tables.toSeq.sortBy(_._1).map { case (name, st) =>
      if (st.rowBacked) {
        val s = GraftRowStore(name).snapshot
        (name, "row", s.rowCount, s.refs.size.toLong,
          s.refs.map(r => r.numRows.toLong * s.schema.defaultSize).sum,
          s.numBuckets, s.keyColumns.mkString(","),
          s.indexes.keys.toSeq.sorted.mkString(","),
          s.refs.map(r => GraftRowStore.packs.residentBytes(r.id)).sum,
          "none")
      } else if (st.storeBacked) {
        val s = GraftColumnStore(name).snapshot
        (name, "column", s.rowCount, s.refs.size.toLong, s.sizeBytes,
          s.numBuckets, s.keyColumns.mkString(","), s.sortedBy.mkString(","),
          // memory-tier observability: resident vs spilled shows the
          // LRU-overflow state; the codec explains the footprint
          s.residentBytes, s.compression)
      } else {
        (name, "cached", -1L, -1L, -1L, st.buckets,
          st.keyColumns.mkString(","), "", -1L, "none")
      }
    }
    spark.createDataFrame(rows).toDF("table_name", "provider", "row_count",
      "batch_count", "size_bytes", "buckets", "key_columns", "indexed_columns",
      "resident_bytes", "compression")
  }

  /** Every index-like access structure on managed tables — the
    * `SYS.SYSINDEXES` analog (reference exposes Derby-style SYS index
    * metadata over its region indexes). One row per structure:
    * primary keys, row-table secondary indexes, column-table index
    * clustering and z-order clustering. METADATA-ONLY (snapshot reads).
    */
  def sysIndexes: DataFrame = {
    val rows = tables.toSeq.sortBy(_._1).flatMap { case (name, st) =>
      val pk =
        if (st.keyColumns.nonEmpty)
          Seq((name, "primary_key", st.keyColumns.mkString(","), "unique hash"))
        else Nil
      val secondary =
        if (st.rowBacked) {
          val s = GraftRowStore(name).snapshot
          s.indexes.keys.toSeq.sorted.map(c =>
            (name, s"idx_$c", c, "row_secondary"))
        } else if (st.storeBacked) {
          val s = GraftColumnStore(name).snapshot
          (if (s.sortedBy.nonEmpty)
            Seq((name, "clustering", s.sortedBy.mkString(","), "batch_stats"))
          else Nil) ++
            (if (s.zorderedBy.nonEmpty)
              Seq((name, "zorder", s.zorderedBy.mkString(","), "batch_stats"))
            else Nil)
        } else Nil
      pk ++ secondary
    }
    // named ANN indexes (CREATE INDEX ... USING ivf|ivfpq)
    val ann = graft.operators.AnnIndexes.list.map(m =>
      (m.table, m.name, m.vecCol, s"ann_${m.provider}"))
    // rows' element type is static, so the empty frame keeps its schema
    spark.createDataFrame(rows ++ ann)
      .toDF("table_name", "index_name", "columns", "kind")
  }

  /** Registered sample tables and their maintenance parameters — the
    * AQP catalog surface (reference keeps these in its Hive catalog's
    * sample-table metadata). One row per (base table, sample).
    */
  def sysSamples: DataFrame = {
    val rows = samples.toSeq.sortBy(_._1).flatMap { case (base, infos) =>
      // LIVE freshness verdict, metadata-only (the matview proof): the
      // recorded fingerprint vs the base's current one. "unknown" when
      // the base is not a store table (no batch metadata to prove
      // against). Staleness is ADVISORY — WITH ERROR routing still
      // answers from the sample (reference semantics: inserts fan in,
      // deletes/updates skew until the sample is rebuilt).
      val now = baseFingerprint(base)
      infos.map { i =>
        val freshVerdict = (i.fresh, now) match {
          case (Some(rec), Some(cur)) => (rec == cur).toString
          case _ => "unknown"
        }
        (i.table, base, i.qcs.mkString(","),
          i.params.map(_.fraction).getOrElse(-1.0),
          i.params.map(_.reservoirFloor.toLong).getOrElse(-1L),
          freshVerdict)
      }
    }
    spark.createDataFrame(rows)
      .toDF("sample_table", "base_table", "qcs", "fraction",
        "reservoir_floor", "is_fresh")
  }

  /** Align a source to the target's column names: by name when they
    * already match, positionally otherwise (classic INSERT semantics —
    * lets `PUT INTO t SELECT k+1, v FROM ...` work without aliases).
    */
  private def alignColumns(target: DataFrame, source: DataFrame): DataFrame = {
    require(source.columns.length == target.columns.length,
      s"source has ${source.columns.length} columns, table has ${target.columns.length}")
    val named =
      if (source.columns.toSeq == target.columns.toSeq) source
      else if (source.columns.toSet == target.columns.toSet)
        source.select(target.columns.map(col): _*)
      else source.toDF(target.columns.toSeq: _*)
    // INSERT-style type alignment: VALUES literals arrive as int where
    // the table column is bigint (etc.) — without the cast the mismatch
    // reaches the store (and its key-probe pushdown compares Integer
    // against Long stats and crashes)
    if (named.schema.fields.zip(target.schema.fields)
        .forall { case (s, t) => s.dataType == t.dataType }) named
    else named.select(target.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  private def stateOf(name: String): TableState =
    tables.getOrElse(normalize(name),
      throw new IllegalArgumentException(s"graft table not found: $name"))

  // ---- table-constraint enforcement (reference create-table.md:
  // NOT NULL / UNIQUE / FOREIGN KEY / CHECK / IDENTITY on row tables;
  // see org.apache.spark.sql.graft.Constraints) ----

  /** ALTER TABLE t ADD [CONSTRAINT name] UNIQUE/FOREIGN KEY/CHECK/PRIMARY
    * KEY (the reference forwards these clauses to its Derby store,
    * SnappyDDLParser.alterTable:697). Like Derby, the EXISTING rows must
    * already satisfy the new constraint — validated with the same
    * distributed jobs the DML paths use — and the constraint takes effect
    * for every subsequent statement atomically with registration.
    */
  def addConstraint(name: String, clause: String): Unit = {
    import org.apache.spark.sql.graft.{ConstraintEnforcer, Constraints}
    val nm = normalize(name)
    val st = stateOf(nm)
    require(st.rowBacked, s"ALTER TABLE $nm ADD CONSTRAINT: constraints are " +
      "supported only for row tables (create-table.md)")
    val parsed = Constraints.parseConstraintClause(clause)
    val checked = Constraints.validateShape(nm, st.df.schema, parsed,
      ref => tableState(ref).map(_.keyColumns).toSeq.filter(_.nonEmpty) ++
        Constraints.get(ref).toSeq.flatMap(_.uniques.map(_.columns)))
    val existing = Constraints.get(nm).getOrElse(Constraints.TableConstraints())
    // PRIMARY KEY is the store's physical key layout — ADD is legal only
    // as metadata registration of the layout that already exists
    if (checked.primaryKey.nonEmpty) {
      require(existing.primaryKey.isEmpty,
        s"$nm already has a PRIMARY KEY (${existing.primaryKey.mkString(",")})")
      require(checked.primaryKey == st.keyColumns.map(_.toLowerCase),
        s"$nm: ADD PRIMARY KEY (${checked.primaryKey.mkString(",")}) must match " +
          s"the table's physical key layout (${st.keyColumns.mkString(",")}); " +
          "declare the key at CREATE TABLE or REBUCKET first")
    }
    // duplicate-name rejection across every nameable class
    val taken = (existing.checks.map(_.name) ++ existing.uniques.map(_.name) ++
      existing.foreignKeys.map(_.name)).toSet
    (checked.checks.map(_.name) ++ checked.uniques.map(_.name) ++
      checked.foreignKeys.map(_.name)).filter(taken).foreach(n =>
      throw new IllegalArgumentException(s"$nm: constraint '$n' already exists"))
    // existing data must satisfy the new rules (Derby: ADD validates)
    if (checked.checks.nonEmpty || checked.notNull.nonEmpty)
      ConstraintEnforcer.validateRows(nm, st.df,
        checked.copy(uniques = Nil, foreignKeys = Nil))
    if (checked.uniques.nonEmpty)
      ConstraintEnforcer.validateUniques(nm, st.df, st.df.limit(0),
        checked.copy(checks = Nil, foreignKeys = Nil), None)
    if (checked.foreignKeys.nonEmpty)
      ConstraintEnforcer.validateForeignKeys(nm, st.df,
        checked.copy(checks = Nil, uniques = Nil), p => table(p))
    Constraints.register(nm, Constraints.mergeTable(
      existing.copy(primaryKey =
        if (checked.primaryKey.nonEmpty) Nil else existing.primaryKey),
      checked))
  }

  /** ALTER TABLE t DROP CONSTRAINT name: removes a named UNIQUE /
    * FOREIGN KEY / CHECK constraint. NOT NULL is not nameable
    * (create-table.md) and PRIMARY KEY is the physical layout — neither
    * drops here. A UNIQUE constraint still referenced by a child foreign
    * key RESTRICTs, like any parent-key removal.
    */
  def dropConstraint(name: String, constraint: String): Unit = {
    import org.apache.spark.sql.graft.Constraints
    val nm = normalize(name)
    stateOf(nm) // table must exist
    val cn = constraint.toLowerCase
    val tc = Constraints.get(nm).getOrElse(
      throw new IllegalArgumentException(s"$nm has no constraints"))
    val inChecks = tc.checks.exists(_.name == cn)
    val inUniques = tc.uniques.exists(_.name == cn)
    val inFks = tc.foreignKeys.exists(_.name == cn)
    require(inChecks || inUniques || inFks,
      s"$nm: no UNIQUE / FOREIGN KEY / CHECK constraint named '$cn'")
    if (inUniques) {
      val cols = tc.uniques.find(_.name == cn).get.columns
      val dependents = Constraints.childrenOf(nm)
        .filter(_._2.refColumns == cols)
        // still legal if the same column list is ALSO the PK or another
        // UNIQUE constraint — the parent key survives the drop
        .filterNot(_ => tc.primaryKey == cols ||
          tc.uniques.exists(u => u.name != cn && u.columns == cols))
      require(dependents.isEmpty, s"$nm: cannot drop UNIQUE '$cn': referenced " +
        s"by foreign key ${dependents.map(d => s"${d._2.name} on ${d._1}").mkString(", ")}")
    }
    Constraints.register(nm, tc.copy(
      checks = tc.checks.filterNot(_.name == cn),
      uniques = tc.uniques.filterNot(_.name == cn),
      foreignKeys = tc.foreignKeys.filterNot(_.name == cn)))
  }

  /** Apply table constraints to an incoming INSERT/PUT batch: align,
    * identity-fill, then validate — one fused aggregate job for all
    * row-local rules plus one join per UNIQUE/FK, each over the
    * STATEMENT'S rows. Tables without constraints pay nothing.
    */
  private def constrainIncoming(name: String, st: TableState,
      rows: DataFrame, forPut: Boolean): DataFrame = {
    import org.apache.spark.sql.graft.{ConstraintEnforcer, Constraints}
    val nm = normalize(name)
    val tc = Constraints.get(nm)
    // the identity column may be omitted from the insert entirely
    // (reference: "leave the identity column out of the insertion column
    // list") — surface it as NULL so the fill step assigns values
    val pre = tc.flatMap(_.identity) match {
      case Some(id) if !rows.columns.exists(_.equalsIgnoreCase(id.column)) &&
          rows.columns.length == st.df.columns.length - 1 =>
        val target = st.df.columns.find(_.equalsIgnoreCase(id.column)).get
        val nonId = st.df.columns.filterNot(_.equalsIgnoreCase(id.column)).toSeq
        val renamed =
          if (rows.columns.map(_.toLowerCase).toSet ==
              nonId.map(_.toLowerCase).toSet) rows
          else rows.toDF(nonId: _*)
        renamed.withColumn(target,
          lit(null).cast(st.df.schema(st.df.schema.fieldIndex(target)).dataType))
      case _ => rows
    }
    val aligned = alignColumns(st.df, pre)
    tc match {
      case None => aligned
      case Some(t) =>
        val filled = t.identity
          .map(id => ConstraintEnforcer.fillIdentity(spark, nm, aligned, id))
          .getOrElse(aligned)
        ConstraintEnforcer.validateRows(nm, filled, t)
        ConstraintEnforcer.validateUniques(nm, filled, st.df, t,
          if (forPut) Some((st.keyColumns, filled)) else None)
        ConstraintEnforcer.validateForeignKeys(nm, filled, t, p => table(p))
        if (forPut) validatePutParentKeys(nm, st, filled)
        filled
    }
  }

  /** PUT replaces whole rows for matched keys: if a child FK references a
    * column OUTSIDE this table's PK, replacement can make referenced
    * values vanish — restrict like a delete. FKs referencing the PK are
    * safe by construction (matched keys stay, unmatched keys append).
    */
  private def validatePutParentKeys(nm: String, st: TableState,
      src: DataFrame): Unit = {
    import org.apache.spark.sql.graft.{ConstraintEnforcer, Constraints}
    val pkLower = st.keyColumns.map(_.toLowerCase).toSet
    val exposed = Constraints.childrenOf(nm)
      .filterNot(_._2.refColumns.forall(pkLower))
    if (exposed.isEmpty) return
    val srcKeys = src.select(st.keyColumns.map(col): _*).distinct()
    val replaced = st.df.join(srcKeys, st.keyColumns, "left_semi")
    val untouched = st.df.join(srcKeys, st.keyColumns, "left_anti")
    val names = exposed.map(_._2.name).toSet
    ConstraintEnforcer.validateParentRemoval(nm, refCols =>
      replaced.select(refCols.map(col): _*)
        .except(src.select(refCols.map(col): _*))
        .except(untouched.select(refCols.map(col): _*)),
      p => table(p), f => names.contains(f.name))
  }

  /** UPDATE-side constraint validation: row-local rules on the affected
    * rows' post-image, UNIQUE/FK only when an assignment touches their
    * columns, parent-side restrict when a child-referenced column is
    * rewritten. Costs are proportional to the affected rows (plus one
    * table scan per touched UNIQUE), and zero for unconstrained tables.
    */
  private def validateUpdate(name: String, st: TableState, condition: Column,
      assignments: Seq[(String, Column)]): Unit = {
    import org.apache.spark.sql.graft.{ConstraintEnforcer, Constraints}
    val nm = normalize(name)
    val tcOpt = Constraints.get(nm)
    val children = Constraints.childrenOf(nm)
    if (!tcOpt.exists(_.enforced) && children.isEmpty) return
    val assignedCols = assignments.map(_._1.toLowerCase).toSet
    tcOpt.flatMap(_.identity).filter(_.always).foreach { id =>
      require(!assignedCols.contains(id.column),
        s"$nm: cannot update GENERATED ALWAYS identity column ${id.column} " +
          "(create-table.md)")
    }
    val setMap = assignments.map { case (k, v) => k.toLowerCase -> v }.toMap
    lazy val affectedPost = {
      val base = st.df.filter(condition)
      base.select(base.columns.map(c =>
        setMap.get(c.toLowerCase).map(_.as(c)).getOrElse(col(c))): _*)
    }
    lazy val rest = st.df.filter(!coalesce(condition, lit(false)))
    tcOpt.foreach { t =>
      if (t.notNull.exists(assignedCols) || t.checks.nonEmpty)
        ConstraintEnforcer.validateRows(nm, affectedPost,
          t.copy(notNull = t.notNull.filter(assignedCols)))
      val uqs = t.uniques.filter(_.columns.exists(assignedCols))
      if (uqs.nonEmpty)
        ConstraintEnforcer.validateUniques(nm, affectedPost, rest,
          t.copy(uniques = uqs), None)
      val fks = t.foreignKeys.filter(_.columns.exists(assignedCols))
      if (fks.nonEmpty)
        ConstraintEnforcer.validateForeignKeys(nm, affectedPost,
          t.copy(foreignKeys = fks), p => table(p))
    }
    val refTouched = children.filter(_._2.refColumns.exists(assignedCols))
    if (refTouched.nonEmpty) {
      val affectedOld = st.df.filter(condition)
      val names = refTouched.map(_._2.name).toSet
      ConstraintEnforcer.validateParentRemoval(nm, refCols =>
        affectedOld.select(refCols.map(col): _*)
          .except(affectedPost.select(refCols.map(col): _*))
          .except(rest.select(refCols.map(col): _*)),
        p => table(p), f => names.contains(f.name))
    }
  }

  /** DELETE-side parent restrict: a referenced-key value may only vanish
    * if no child row references it (Derby RESTRICT). `remaining` rows
    * still holding the same value keep it alive.
    */
  private def validateDeleteRestrict(nm: String, deleted: => DataFrame,
      remaining: => DataFrame): Unit = {
    import org.apache.spark.sql.graft.{ConstraintEnforcer, Constraints}
    if (Constraints.childrenOf(nm).isEmpty) return
    val del = deleted
    val rem = remaining
    ConstraintEnforcer.validateParentRemoval(nm, refCols =>
      del.select(refCols.map(col): _*)
        .except(rem.select(refCols.map(col): _*)),
      p => table(p))
  }

  /** INSERT INTO: append rows (reference SnappySession.insert:1990).
    * Store-backed: a bucketed DSv2 append — full batches seal, the
    * remainder lands in the delta row buffer. Registered samples of the
    * base (with known build parameters) receive a stratified sample of
    * the SAME batch — see [[maintainSamples]].
    */
  def insert(name: String, rows: DataFrame): DataFrame = {
    requireWritable(name, "insert")
    val st = stateOf(name)
    val aligned = constrainIncoming(name, st, rows, forPut = false)
    // pre-insert fingerprint: sample maintenance advances a sample's
    // recorded freshness only if it was fresh BEFORE this insert — a
    // sample already skewed by an earlier delete must stay visibly
    // stale. Computed only when a sample is registered (the fingerprint
    // walks every batch ref: O(batches) driver work a plain insert
    // must not pay)
    val preFresh =
      if (samples.contains(normalize(name))) baseFingerprint(name) else None
    val out =
      if (st.rowBacked) {
        aligned.write.format(GraftRowOps.FORMAT)
          .option("table", normalize(name)).mode("append").save()
        table(name)
      } else if (st.storeBacked) {
        aligned.write.format(GraftStoreOps.FORMAT)
          .option("table", normalize(name)).mode("append").save()
        table(name)
      } else mutate(name)(s => s.df.unionByName(aligned))
    maintainSamples(name, aligned, preFresh)
    maintainMatviews(name)
    out
  }

  /** Opt-in matview maintenance on INSERT (the matview face of the
    * sample-maintenance hook above — the reference fans inserts into
    * registered samples the same way, SampleInsertExec): with
    * `spark.sql.graft.matviewAutoRefresh = true`, every session insert
    * into a base refreshes its views through the O(delta) path, so they
    * never go observably stale under an append-only workload. Off by
    * default: it serializes per view and adds the merge cost to every
    * insert, which batch pipelines should schedule instead. DSv2
    * appends (`INSERT INTO graft.t`) bypass the session face — same
    * scoping as sample maintenance; the freshness gate keeps those
    * correct (stale view → base scan until REFRESH).
    */
  private def maintainMatviews(baseName: String): Unit = {
    if (spark.conf.get("spark.sql.graft.matviewAutoRefresh", "false").toBoolean) {
      val nm = normalize(baseName)
      // best-effort per view: by the time maintenance runs the append has
      // already COMMITTED, so a refresh failure must not surface as a
      // failed insert (the caller's rows landed), and one bad view must
      // not block maintenance of its siblings — the freshness gate keeps
      // an unmaintained view safe (stale → base scan until REFRESH)
      MatViews.involving(nm).foreach { m =>
        try refreshMaterializedView(m.name)
        catch { case scala.util.control.NonFatal(e) =>
          logWarning(s"matviewAutoRefresh: refresh of ${m.name} after " +
            s"insert into $nm failed (view stays stale until REFRESH)", e)
        }
      }
    }
  }

  /** Fan a base-table insert into its registered samples — the
    * reference's `SampleInsertExec` (execution/aqp/SampleInsertExec
    * .scala:30) fans inserts into sample reservoirs; here each increment
    * is stratified with the sample's own build parameters and appended.
    *
    * Statistics: every batch is an independent Horvitz-Thompson sample
    * of its own rows (per-batch `_weight` = batch-stratum population /
    * batch-stratum kept), so the union remains an unbiased weighted
    * sample of the full table — it is exactly stratification by
    * (ingest batch × QCS). `sum(_weight)` over the sample always equals
    * the base row count. The per-batch reservoir floor keeps small
    * increments representable at the cost of a slightly larger sample
    * than a full rebuild would produce (more strata); weights absorb the
    * difference, estimators are unaffected. UPDATE/DELETE do not
    * propagate (matches the reference, whose samples are insert-
    * maintained only — rebuild the sample after heavy rewrites).
    */
  private def maintainSamples(baseName: String, newRows: DataFrame,
      preFresh: Option[org.apache.spark.sql.graft.store.MatViews.MvFreshness]): Unit =
    samples.get(normalize(baseName)).foreach { infos =>
      infos.foreach { info =>
        info.params.foreach { p =>
          insert(info.table, graft.operators.Aqp.stratifiedSample(
            newRows, info.qcs, p.fraction, p.reservoirFloor, p.rankKey))
        }
      }
      // a maintained sample that was FRESH before this insert is
      // consistent with the base again — advance its fingerprint (the
      // base snapshot already includes the insert). One already skewed
      // by an earlier delete/update stays visibly stale, and samples
      // WITHOUT maintenance params keep their registration fingerprint.
      // Concurrency note (advisory by design): the post-insert
      // fingerprint is captured outside any lock, so two inserts racing
      // on the same base can advance `fresh` to a fingerprint covering
      // BOTH inserts while the sibling's sample fan-in is still
      // running — `is_fresh` may transiently read true with rows
      // missing from the sample. The window closes when the sibling's
      // fan-in commits (the sample converges to exactly one increment
      // per insert; fingerprints only ever advance), so the verdict is
      // eventually consistent — matching its advisory contract
      // (routing never depends on it). Serializing insert+maintain per
      // base would close the window at the cost of making every insert
      // on a sampled base mutually exclusive.
      val now = baseFingerprint(baseName)
      if (now.isDefined) samples.updateWith(normalize(baseName))(_.map(_.map(i =>
        if (i.params.isDefined && i.fresh.isDefined && i.fresh == preFresh)
          i.copy(fresh = now) else i)))
    }

  /** PUT INTO: key-based upsert. Matched target rows are replaced by the
    * source row, unmatched source rows are inserted — the reference's
    * LeftAnti/union split (ColumnTableBulkOps.scala:46-200), which is also
    * exactly MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT with
    * whole-row assignment. Requires key columns. Store-backed: matched
    * rows die via per-batch delete bitmaps, the source appends — both
    * O(source), not O(table) (GraftStoreOps.putInto).
    */
  def putInto(name: String, source: DataFrame): DataFrame = {
    requireWritable(name, "putInto")
    val st = stateOf(name)
    val constrained = constrainIncoming(name, st, source, forPut = true)
    if (st.rowBacked) {
      require(st.keyColumns.nonEmpty, s"putInto($name) requires key_columns")
      GraftRowOps.put(spark, normalize(name), constrained)
      table(name)
    } else if (st.storeBacked) {
      require(st.keyColumns.nonEmpty, s"putInto($name) requires key_columns")
      GraftStoreOps.putInto(spark, normalize(name), constrained)
      table(name)
    } else mutate(name) { s =>
      require(s.keyColumns.nonEmpty, s"putInto($name) requires key_columns")
      // If the source carries duplicate keys, last-writer-wins is not
      // well-defined for a batch; keep the first by key order for
      // determinism (the reference conflates by key in its sink path).
      val srcDedup = constrained.dropDuplicates(s.keyColumns)
      s.df.join(srcDedup, s.keyColumns, "left_anti")
        .unionByName(srcDedup.select(s.df.columns.map(col): _*))
    }
  }

  /** UPDATE table SET assignments WHERE condition (reference
    * ColumnUpdateExec / ColumnDeltaEncoder). Store-backed: per-(batch,
    * column) update deltas written by tasks, merged at scan — O(delta)
    * per statement (GraftStoreOps.update).
    */
  def update(name: String, condition: Column, assignments0: (String, Column)*): DataFrame = {
    requireWritable(name, "update")
    val st = stateOf(name)
    // assignment values cast to the column's type (SET v = 0 writes an
    // int literal — uncast it would land as Integer in a bigint column's
    // delta and crash the scan's typed fill)
    val assignments = assignments0.map { case (c, v) =>
      st.df.schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) => c -> v.cast(f.dataType)
        case None => c -> v
      }
    }
    validateUpdate(name, st, condition, assignments)
    if (st.rowBacked) {
      GraftRowOps.update(spark, normalize(name), condition, assignments)
      table(name)
    } else if (st.storeBacked) {
      GraftStoreOps.update(spark, normalize(name), condition, assignments)
      table(name)
    } else mutate(name) { s =>
      val setMap = assignments.toMap
      s.df.select(s.df.columns.map { c =>
        setMap.get(c)
          .map(newVal => when(condition, newVal).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }
  }

  /** DELETE FROM table WHERE condition (reference ColumnDeleteExec).
    * Store-backed: per-batch delete bitmaps built task-side — O(delta).
    */
  def delete(name: String, condition: Column): DataFrame = {
    requireWritable(name, "delete")
    val st = stateOf(name)
    validateDeleteRestrict(normalize(name),
      st.df.filter(condition), st.df.filter(!coalesce(condition, lit(false))))
    if (st.rowBacked) {
      GraftRowOps.delete(spark, normalize(name), condition)
      table(name)
    } else if (st.storeBacked) {
      GraftStoreOps.delete(spark, normalize(name), condition)
      table(name)
    } else mutate(name)(s => s.df.filter(!coalesce(condition, lit(false))))
  }

  // ---- Row-varargs API sugar (reference SnappySession.insert:1990,
  // put:2031, update:2054, delete:2119 — the JDBC-ish point mutation
  // surface; each returns the affected-row count) ----

  private def rowsToDf(name: String, rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    val schema = stateOf(name).df.schema
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** session.insert(table, Row(...), ...) — appends the literal rows. */
  def insertRows(name: String, rows: org.apache.spark.sql.Row*): Int = {
    insert(name, rowsToDf(name, rows)); rows.length
  }

  /** session.put(table, Row(...), ...) — key-based upsert of literal rows. */
  def putRows(name: String, rows: org.apache.spark.sql.Row*): Int = {
    putInto(name, rowsToDf(name, rows)); rows.length
  }

  /** session.update(table, filterExpr, newValues, updateColumns*) —
    * SET updateColumns(i) = newValues(i) WHERE filterExpr. Returns the
    * matched-row count (computed on the pre-mutation snapshot).
    */
  def updateRows(name: String, filterExpr: String,
      newColumnValues: org.apache.spark.sql.Row, updateColumns: String*): Int = {
    require(newColumnValues.length == updateColumns.length,
      s"update($name): ${updateColumns.length} columns but ${newColumnValues.length} values")
    val cond = expr(filterExpr)
    val n = table(name).filter(cond).count().toInt
    update(name, cond,
      updateColumns.zipWithIndex.map { case (c, i) =>
        c -> lit(newColumnValues.get(i))
      }: _*)
    n
  }

  /** session.delete(table, filterExpr) — returns the deleted-row count. */
  def deleteWhere(name: String, filterExpr: String): Int = {
    val cond = expr(filterExpr)
    val n = table(name).filter(cond).count().toInt
    delete(name, cond)
    n
  }

  // ---- row-level security (reference: CREATE POLICY, SURVEY.md §2.2) ----

  /** CREATE POLICY name ON table USING filterSql [TO users]. Applied by
    * [[org.apache.spark.sql.graft.RowLevelSecurityRule]] during analysis
    * for sessions built with [[GraftExtensions]].
    */
  def createPolicy(name: String, table: String, filterSql: String,
      users: Set[String] = Set("*")): Unit =
    org.apache.spark.sql.graft.PolicyRegistry.create(name, table, filterSql, users)

  def dropPolicy(name: String): Unit =
    org.apache.spark.sql.graft.PolicyRegistry.drop(name)

  def setCurrentUser(user: String): Unit =
    org.apache.spark.sql.graft.PolicyRegistry.currentUser = user

  // ---- streaming-context parity (reference SnappyStreamingContext:
  // STREAMING INIT <interval> / STREAMING START / STREAMING STOP SQL,
  // registerCQ API). Continuous queries here are Structured Streaming
  // queries over the CREATE STREAM TABLE views; a started CQ lands in an
  // in-memory sink view of the CQ's own name — the Structured-Streaming
  // expression of reference registerCQ + SchemaDStream.registerAsTable.
  @volatile private var streamBatchInterval: Option[String] = None
  private val registeredCqs = TrieMap.empty[String, String]
  private val runningCqs =
    scala.collection.mutable.Buffer.empty[org.apache.spark.sql.streaming.StreamingQuery]

  /** STREAMING INIT: micro-batch trigger interval for CQs started next
    * (e.g. "2 seconds"). The reference binds this at context creation;
    * Structured Streaming binds it per query, so INIT before START.
    */
  def streamingInit(interval: String): Unit = streamBatchInterval = Some(interval)

  /** Register a continuous query by name (reference registerCQ). */
  def registerCQ(name: String, sql: String): Unit =
    registeredCqs.put(normalize(name), sql)

  /** STREAMING START: run every registered CQ. Append mode when the
    * query supports it (watermarked aggs, stateless transforms); queries
    * whose sinks need the full updated result (unwatermarked aggs) fall
    * back to complete mode — the same always-current-answer semantics
    * the reference's CQ result tables provide.
    */
  def streamingStart(): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    this.synchronized {
      import org.apache.spark.sql.streaming.Trigger
      // track each CQ the moment it starts: if a LATER registration fails
      // to start, the ones already running stay in runningCqs so
      // STREAMING STOP still reaches them (no orphaned queries)
      val started = scala.collection.mutable.Buffer
        .empty[org.apache.spark.sql.streaming.StreamingQuery]
      registeredCqs.toSeq.sortBy(_._1).foreach { case (n, q) =>
        def writer = {
          val w = spark.sql(q).writeStream.queryName(n).format("memory")
          streamBatchInterval.map(i => w.trigger(Trigger.ProcessingTime(i))).getOrElse(w)
        }
        val sq =
          try writer.outputMode("append").start()
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              writer.outputMode("complete").start()
          }
        runningCqs += sq
        started += sq
      }
      started.toSeq
    }

  /** STREAMING STOP: stop the CQs this context started (registrations
    * survive, matching the reference's restartable streaming context).
    */
  def streamingStop(): Unit = this.synchronized {
    runningCqs.foreach(q => if (q.isActive) q.stop())
    runningCqs.clear()
  }

  /** DELETE of every row whose key appears in `keys` — join form, so
    * deletes stream through a shuffle instead of a driver-side predicate
    * (the scalable path for CDC delete batches).
    */
  def deleteKeys(name: String, keys: DataFrame): DataFrame = {
    requireWritable(name, "deleteKeys")
    val st = stateOf(name)
    require(st.keyColumns.nonEmpty, s"deleteKeys($name) requires key_columns")
    validateDeleteRestrict(normalize(name),
      st.df.join(keys.select(st.keyColumns.map(col): _*), st.keyColumns, "left_semi"),
      st.df.join(keys.select(st.keyColumns.map(col): _*), st.keyColumns, "left_anti"))
    if (st.rowBacked) {
      GraftRowOps.deleteKeys(spark, normalize(name), keys)
      table(name)
    } else if (st.storeBacked) {
      GraftStoreOps.deleteKeys(spark, normalize(name), keys)
      table(name)
    } else mutate(name) { s =>
      s.df.join(keys.select(s.keyColumns.map(col): _*), s.keyColumns, "left_anti")
    }
  }

  private def mutate(name: String)(f: TableState => DataFrame): DataFrame = {
    val key = normalize(name)
    val st = tables.getOrElse(key,
      throw new IllegalArgumentException(s"graft table not found: $name"))
    val next =
      if (st.partitionBy.nonEmpty)
        f(st).repartition(st.buckets, st.partitionBy.map(col): _*)
      else f(st)
    // The new snapshot materializes (eagerly) BEFORE the catalog entry is
    // swapped, reading from the still-live previous snapshot — readers
    // never observe a partial mutation. Old snapshot blocks are released
    // by the ContextCleaner once unreferenced.
    swap(key, st.copy(df = next))
  }

  /** Materialize the new state as its own snapshot and swap it in.
    * localCheckpoint both (a) stores the rows (MEMORY_AND_DISK), making
    * every table read cache-served, and (b) cuts the lineage chain, so a
    * long mutation history doesn't accrete an unbounded plan DAG (the
    * classic iterative-mutation trap).
    */
  private def swap(key: String, st: TableState): DataFrame = {
    val materialized = st.df.localCheckpoint(eager = true)
    tables.put(key, st.copy(df = materialized))
    materialized.createOrReplaceTempView(key)
    materialized
  }
}

object GraftSession {
  /** Sampling parameters a registered sample was built with — carried in
    * [[SampleInfo]] so base-table inserts can fan a consistent increment
    * into the sample (the reference's `SampleInsertExec` behavior).
    */
  final case class SampleParams(
      fraction: Double, reservoirFloor: Int, rankKey: Seq[String])

  /** A registered sample table, its stratification columns, and (when
    * known) the parameters to maintain it under base-table inserts.
    * `fresh`: the base table's freshness fingerprint at registration /
    * last maintained fan-in (the same metadata proof the matview tier
    * uses) — None when the base is not a store table. A base DELETE or
    * UPDATE leaves sample rows for vanished strata; the fingerprint
    * makes that skew VISIBLE in `sys.samples.is_fresh` without changing
    * routing (WITH ERROR still answers from the sample — documented
    * reference semantics: SampleInsertExec also fans only inserts).
    */
  final case class SampleInfo(table: String, qcs: Seq[String],
      params: Option[SampleParams] = None,
      fresh: Option[org.apache.spark.sql.graft.store.MatViews.MvFreshness] = None)

  /** One `sys.queries` ring-buffer entry. */
  final case class QueryLogEntry(endedAt: java.sql.Timestamp, op: String,
      durationMs: Long, status: String, rootPlan: String)

  /** Size floor under which an unbucketed ingest keeps the source's
    * partitioning (the repartition shuffle would cost more than the
    * encode parallelism it buys on small data).
    */
  val INGEST_MIN_BYTES_KEY = "spark.sql.graft.ingest.minRepartitionBytes"

  private[graft] val sessionIds = new java.util.concurrent.atomic.AtomicLong(0L)

  private val sessions = TrieMap.empty[SparkSession, GraftSession]
  /** One GraftSession per SparkSession. Registers the `graft` DSv2
    * catalog (if the session didn't configure it) so `graft.t`
    * identifiers and storage-partitioned joins resolve.
    */
  def apply(spark: SparkSession): GraftSession =
    sessions.getOrElseUpdate(spark, {
      val key = "spark.sql.catalog.graft"
      if (!spark.conf.getOption(key).isDefined)
        spark.conf.set(key, "org.apache.spark.sql.graft.store.GraftCatalog")
      new GraftSession(spark)
    })
}

/** Shared bits of the matview maintenance paths. */
private[graft] object MatViewRefresh {
  /** Canonical qualified column form `` `t`.`c` `` (join-view agg
    * inputs and predicates carry it; single-table forms are bare).
    */
  val QualCol: scala.util.matching.Regex = "`([^`]+)`\\.`([^`]+)`".r
}
