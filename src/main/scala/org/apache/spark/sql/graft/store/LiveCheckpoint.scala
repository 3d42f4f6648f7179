package org.apache.spark.sql.graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Epoch-versioned checkpoint publishing: the two-process serving story
  * (the reference's smart-connector mode — a store cluster keeps
  * ingesting while connector JVMs serve reads from consistent snapshots,
  * `cluster/.../gemxd/SparkSQLExecuteImpl.scala:63`,
  * docs/affinity_modes/connector_mode.md). The Spark-first redesign is a
  * commit-marker protocol over shared storage rather than a live data
  * grid: the writer publishes immutable `epoch_N/` directories under a
  * diskstore root and a reader JVM attaches READ-ONLY to the newest
  * committed epoch — so reads are always of a full, published snapshot,
  * and the snapshot a reader serves ADVANCES as the writer commits.
  *
  * Atomicity: an epoch directory is written completely (data parquet +
  * layout + `epoch.properties` content fingerprint) BEFORE its
  * `_COMMITTED` marker is created; readers enumerate only marked epochs,
  * so a torn or in-flight epoch is invisible — there is no rename or
  * pointer-swap to need filesystem-specific atomicity. The fingerprint
  * (row count + order-independent content hash) lets the reader prove
  * the restored snapshot is exactly what the writer published.
  *
  * Retention stands in for cross-process reader leases (in-JVM leases
  * are [[LeaseGc]]'s job; distributed lease coordination is an ops
  * non-goal, SURVEY §7): `keep` committed epochs survive a publish, so a
  * reader attaching the latest epoch has `keep-1` publish cycles of
  * margin before its files age out — and an attach COPIES into the
  * reader's own registry, so the window only covers the restore read
  * itself, not the serving lifetime.
  *
  * 100 TB scale audit: the default epoch is a FULL snapshot (one table
  * scan written as parquet, re-read once for the fingerprint) — right
  * for dimension/serving tables, O(table) per publish. `incremental =
  * true` is the 100 TB shape: sealed-batch payloads persist ONCE as
  * shared content-addressed parquet under `root/payloads/`, an epoch
  * is a manifest of payload references, unchanged batches carry over
  * by reference, and the epoch fingerprint is the SUM of per-payload
  * fingerprints (additive by construction, so the reader's whole-table
  * verification is byte-identical to the full form's). Publish becomes
  * O(batches changed since the last epoch); retention GCs payloads no
  * kept epoch references. The marker/claim machinery is shared — an
  * incremental and a full epoch differ only in where attach reads rows.
  */
/** A zero-copy view's files aged out mid-serving: the publisher's
  * retention pruned the epoch the view was attached to. Epochs are
  * immutable, so the prescribed recovery is always safe: re-attach
  * (`attachView` — advancing to a committed epoch, or re-pinning one
  * retention still keeps) and retry the read. Distinguished from
  * corruption by construction: [[graft.GraftSession.servingRead]] only
  * raises this after confirming the epoch is NO LONGER committed under
  * the root — a missing file under a still-committed epoch rethrows the
  * original error instead.
  */
class EpochPrunedException(val table: String, val root: String,
    val epoch: Long, cause: Throwable)
  extends RuntimeException(
    s"epoch $epoch of '$table' under $root was pruned by retention while " +
      "the view was serving — re-attach (attachView) to a committed epoch " +
      "and retry; size the publisher's keep x cadence above the serving " +
      "window to avoid this", cause)

object LiveCheckpoint {

  val MARKER = "_COMMITTED"
  val EPOCH_PROPS = "epoch.properties"
  private val EpochName = "epoch_(\\d{8})".r

  private def epochDirName(n: Long): String = f"epoch_$n%08d"

  /** Path of one epoch's directory (for sidecar readers — everything in
    * it is immutable once the marker exists).
    */
  def dirFor(root: String, epoch: Long): String = s"$root/${epochDirName(epoch)}"

  private def fs(spark: SparkSession, root: String) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Committed epoch numbers under `root`, ascending (uncommitted /
    * in-flight directories are skipped — that is the torn-snapshot
    * guarantee).
    */
  def committedEpochs(spark: SparkSession, root: String): Seq[Long] = {
    val (f, p) = fs(spark, root)
    if (!f.exists(p)) return Nil
    f.listStatus(p).iterator
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case EpochName(n) if f.exists(
          new org.apache.hadoop.fs.Path(s.getPath, MARKER)) => Some(n.toLong)
        case _ => None
      })
      .toSeq.sorted
  }

  def latestEpoch(spark: SparkSession, root: String): Option[Long] =
    committedEpochs(spark, root).lastOption

  /** Order-independent content fingerprint of a dataframe: row count and
    * the sum of per-row 32-bit hashes (widened, so the sum cannot
    * overflow below ~2^32 rows). Both sides — publisher over the written
    * parquet, reader over the restored store table — compute it the same
    * way, so equality proves the attach re-hydrated exactly the
    * published multiset.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(col).toSeq
    val r = df.agg(count(lit(1)).as("n"),
      coalesce(sum(hash(cols: _*).cast("bigint")), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Publish the table's current snapshot as the next committed epoch.
    * The fingerprint is computed from the WRITTEN parquet, not the live
    * table — the table may take more commits while this runs, and the
    * manifest must describe the bytes a reader will actually attach.
    * Returns the epoch number.
    */
  def publish(spark: SparkSession, table: String, root: String,
      keep: Int = 4, beforeCommit: String => Unit = _ => (),
      incremental: Boolean = false): Long = {
    require(keep >= 1, "retention must keep at least the newest epoch")
    // exclusive epoch claim: two publishers racing one root would both
    // compute max+1 and co-write the same directory — claim the number
    // with a create-no-overwrite file (atomic on Hadoop filesystems)
    // and advance past already-claimed epochs (claimed-but-uncommitted
    // dirs of a crashed publisher stay invisible to readers forever;
    // numbers never recycle, so skipping them is free)
    val (f0, _) = fs(spark, root)
    f0.mkdirs(new org.apache.hadoop.fs.Path(root))
    // Filesystem note: create(overwrite=false) is atomic on HDFS; on
    // RawLocalFileSystem and most object stores it is check-then-create,
    // so exclusivity there is best-effort (fine for the single-writer-
    // per-root deployments this targets; use an HDFS-semantics store for
    // true multi-publisher racing).
    var next = math.max(
      latestEpoch(spark, root).map(_ + 1).getOrElse(0L), 0L)
    var claimed = false
    var contended = 0
    while (!claimed) {
      try {
        f0.create(new org.apache.hadoop.fs.Path(root, s".claim_${epochDirName(next)}"),
          false).close()
        claimed = true
      } catch {
        // only "file already exists" means another publisher won the
        // number — any other IOException (permissions, connectivity)
        // would repeat forever if treated as contention, so it
        // propagates. ChecksumFileSystem wraps the local case in a
        // plain IOException whose message carries the path, hence the
        // message probe beside the typed catch.
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException =>
          next += 1; contended += 1
        case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("exists") =>
          next += 1; contended += 1
      }
      // bound the walk: a pathological root with an unbounded run of
      // claimed-but-uncommitted numbers means something is wrong with
      // the deployment, not this publisher — refuse loudly
      require(contended < 10000,
        s"publish($table): gave up after $contended contended epoch claims " +
          s"under $root — stale .claim_* files or a runaway publisher")
    }
    val dir = s"$root/${epochDirName(next)}"
    // both stores serve in connector mode; the layout manifest records
    // the provider, so attach dispatches without being told
    val ops = StoreOps(table)
    val (rows, h) =
      // the incremental path decides INSIDE its own snapshot whether it
      // can represent the table (None when there are no live rows — the
      // full form's data/ parquet carries the SCHEMA an all-empty payload
      // list could not, and an empty dump costs nothing anyway). The
      // decision and the manifest come from ONE snapshot read, so a
      // concurrent delete emptying the table between a pre-check and the
      // dump cannot commit an unattachable all-empty-payload epoch.
      (if (incremental) publishIncrementalEpoch(spark, ops, table, root, dir)
      else None).getOrElse {
        ops.checkpoint(spark, table, dir)
        fingerprint(spark.read.parquet(s"$dir/data"))
      }
    GraftManifest.write(spark, dir, Seq(
      "epoch" -> next.toString,
      "rows" -> rows.toString,
      "content_hash" -> h.toString,
      "table" -> table),
      s"epoch $next of $table", EPOCH_PROPS)
    // sidecars (e.g. the session's constraints file) must land BEFORE
    // the marker, or a reader could attach an epoch missing them
    beforeCommit(dir)
    // marker LAST: everything a reader needs exists before the epoch
    // becomes visible
    val (f, _) = fs(spark, root)
    f.create(new org.apache.hadoop.fs.Path(dir, MARKER), true).close()
    // retention: drop committed epochs beyond the newest `keep` (and
    // their claim files — numbers never recycle, so this cannot free a
    // number for re-claiming, it only keeps the root tidy)
    val committed = committedEpochs(spark, root)
    committed.dropRight(keep).foreach { old =>
      f.delete(new org.apache.hadoop.fs.Path(s"$root/${epochDirName(old)}"), true)
      f.delete(new org.apache.hadoop.fs.Path(root, s".claim_${epochDirName(old)}"), false)
    }
    // payload GC (incremental epochs only): shared payload files are
    // reference-counted by the surviving manifests — delete the ones no
    // kept epoch references. Safe under the same single-publisher-per-
    // root assumption the claim protocol documents: nobody else is
    // between manifest-write and marker right now.
    val pdir = new org.apache.hadoop.fs.Path(root, PAYLOADS)
    if (f.exists(pdir)) {
      val referenced = committedEpochs(spark, root).flatMap { e =>
        payloadEntries(spark, dirFor(root, e),
            GraftManifest.read(spark, dirFor(root, e)))
          .map(_.name).filter(_.nonEmpty)
      }.toSet
      f.listStatus(pdir).foreach { st =>
        if (!referenced.contains(st.getPath.getName))
          f.delete(st.getPath, true)
      }
    }
    next
  }

  private val PAYLOADS = "payloads"

  /** Entry count above which an incremental epoch's payload manifest is
    * written as a parquet sidecar in the epoch directory instead of a
    * `payloads` property in layout.properties. The property form is
    * human-readable and shell-parseable (the two-JVM proof's oracle reads
    * it) but O(entries) inside a java.util.Properties line — fine to
    * ~100k batches, unbounded-growth-hostile past that. The sidecar is
    * one parquet file read back in a single driver-side collect at
    * attach/diff/GC — O(batches) rows of metadata, never data.
    */
  val SIDECAR_THRESHOLD_KEY = "spark.sql.graft.publish.sidecarThreshold"
  private val SIDECAR = "payloads.pq"

  /** One shared-payload reference in an incremental epoch's manifest:
    * `name` is the directory under `root/payloads/` holding the batch's
    * merged visible rows as parquet (empty when the batch is fully
    * deleted — nothing to store), `mutFp` the delete/update fingerprint
    * the batch had when dumped (reuse key), `rows`/`hashSum` its
    * additive content fingerprint.
    */
  private[store] final case class PayloadEntry(batchId: Long, mutFp: String,
      rows: Long, hashSum: Long, name: String)

  private def encodeEntries(es: Seq[PayloadEntry]): String =
    es.map(e => s"${e.batchId}:${e.mutFp}:${e.rows}:${e.hashSum}:${e.name}")
      .mkString(";")

  /** Decode an incremental epoch's payload manifest: from the `payloads`
    * property when the epoch is small, from the parquet sidecar when the
    * publisher crossed [[SIDECAR_THRESHOLD_KEY]] — every consumer
    * (attach, epochFrame, epochDiff, retention GC, the next publish's
    * reuse map) goes through here, so the encoding is one function wide.
    */
  private[store] def payloadEntries(spark: SparkSession, dir: String,
      p: java.util.Properties): Seq[PayloadEntry] =
    if (p.getProperty("payloads_sidecar", "false") == "true")
      spark.read.parquet(s"$dir/$SIDECAR").collect().iterator.map { r =>
        PayloadEntry(r.getAs[Long]("batchId"), r.getAs[String]("mutFp"),
          r.getAs[Long]("rows"), r.getAs[Long]("hashSum"), r.getAs[String]("name"))
      }.toSeq.sortBy(_.batchId)
    else
      Option(p.getProperty("payloads")).filter(_.nonEmpty).toSeq
        .flatMap(_.split(";", -1).iterator.filter(_.nonEmpty).map { s =>
          val a = s.split(":", -1)
          PayloadEntry(a(0).toLong, a(1), a(2).toLong, a(3).toLong, a(4))
        })

  /** O(delta) epoch publish, for either store: dump only payloads
    * (column batches, row packs) whose content changed since the last
    * incremental epoch of the same store into shared content-addressed
    * payload files, reuse the rest by reference, and derive the epoch
    * fingerprint by SUMMING per-payload fingerprints (the content hash is
    * an order-independent sum of per-row hashes, so per-file sums add
    * exactly — the reader's whole-table verification at attach is
    * unchanged). This is the documented 100 TB shape: a minutes-cadence
    * publisher rewrites the tail, not the table. A payload counts as
    * changed when its store's mutation fingerprint moved (a delete
    * bitmap or update delta on a batch, new tombstones in a pack).
    *
    * Returns Some(rows, contentHash), or None when THIS snapshot has no
    * live rows — the caller falls back to the full-dump form, whose
    * data/ parquet carries the schema an all-empty payload list cannot
    * (deciding on the SAME snapshot the manifest would use closes the
    * race where a concurrent delete empties the table after a pre-check
    * and a committed epoch ends up unattachable). Concurrent-mutation
    * safety: the manifest is captured BEFORE the dump scan and
    * re-validated against the live snapshot AFTER it; any DELETE/UPDATE/
    * roll-up that moved a referenced payload in between aborts the
    * publish (claim stays burned, caller retries) rather than committing
    * a manifest that mixes two moments of the table.
    */
  private def publishIncrementalEpoch(spark: SparkSession, ops: StoreOps[_, _, _],
      table: String, root: String, dir: String): Option[(Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val (f, _) = fs(spark, root)
    val cut = ops.publishCut(table)
    if (cut.rowCount <= 0) return None
    // previous incremental epoch of THIS store (a full epoch, another
    // store's or none ⇒ every payload counts as changed — correct and
    // conservative, e.g. after a publisher restart re-ingested under
    // fresh payload ids)
    val prev: Map[Long, PayloadEntry] =
      latestEpoch(spark, root) match {
        case Some(e) =>
          val p = GraftManifest.read(spark, dirFor(root, e))
          if (p.getProperty("incremental", "false") == "true" &&
              (StoreOps.forManifest(p) eq ops))
            payloadEntries(spark, dirFor(root, e), p)
              .map(pe => pe.batchId -> pe).toMap
          else Map.empty
        case None => Map.empty
      }
    val (reused, changed) = cut.ids.partition { id =>
      prev.get(id).exists(_.mutFp == cut.fingerprints(id))
    }
    val pdir = new Path(root, PAYLOADS)
    f.mkdirs(pdir)
    // not dot- or underscore-led: Spark's file index skips such paths as
    // hidden and warns that every path was ignored. Epoch reads name
    // data/ or payload paths, so a crash's leftover is never read.
    val tmp = new Path(dir, "payload_dump")
    val written = scala.collection.mutable.ArrayBuffer.empty[Path]
    val entries =
      try {
        val changedStats: Map[Long, (Long, Long)] =
          if (changed.isEmpty) Map.empty
          else {
            // the pin option is the pruning contract: the scan returns
            // exactly the changed payloads' merged visible rows, pruned
            // at PLANNING (no defensive isin re-filter — with many
            // changed payloads that built a thousand-child In)
            val df0 = spark.read.format(ops.FORMAT)
              .option("table", table)
              .option(ops.pinOption, changed.mkString(",")).load()
            df0.select(col("*"), df0.metadataColumn(ops.addressColumn).as("__pb"))
              .write.mode("overwrite").partitionBy("__pb")
              .parquet(tmp.toString)
            val back = spark.read.parquet(tmp.toString)
            val tcols = cut.schema.fieldNames.map(back.col(_)).toSeq
            // partition-column inference may read the id back narrower
            back.groupBy(col("__pb").cast("long").as("__pb"))
              .agg(count(lit(1)).as("n"),
                coalesce(sum(hash(tcols: _*).cast("bigint")), lit(0L)).as("h"))
              .collect()
              .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
          }
        // re-validate AFTER the dump: the scan pinned its own snapshot,
        // so its rows are self-consistent — but they must also be the
        // rows of the manifest WE captured, or reused-and-redumped
        // entries would mix two moments (e.g. a delta folded into a new
        // seal would appear in both)
        val after = ops.publishCut(table)
        require(after.ids.toSet == cut.ids.toSet && after.fingerprints == cut.fingerprints,
          s"publish($table): a concurrent mutation moved referenced payloads " +
            "during the incremental dump — epoch aborted, retry the publish")
        cut.ids.map { id =>
          val fp = cut.fingerprints(id)
          prev.get(id).filter(_.mutFp == fp).getOrElse {
            changedStats.get(id) match {
              case Some((n, hs)) =>
                val name = s"${ops.payloadPrefix}${id}_r${n}_h${java.lang.Long.toHexString(hs)}"
                val target = new Path(pdir, name)
                val src = new Path(tmp, s"__pb=$id")
                if (f.exists(target)) () // identical content already shared
                else if (f.rename(src, target)) written += target
                else throw new java.io.IOException(
                  s"publish($table): failed to place payload $name")
                PayloadEntry(id, fp, n, hs, name)
              case None => // every row of the payload is deleted
                PayloadEntry(id, fp, 0L, 0L, "")
            }
          }
        }
      } catch {
        case e: Throwable =>
          written.foreach(f.delete(_, true))
          f.delete(tmp, true)
          throw e
      }
    f.delete(tmp, true)
    // encoding choice: property line below the threshold (shell-readable,
    // zero extra files), parquet sidecar above it (bounded manifest line,
    // O(dirs)-listing-free decode at attach)
    val sidecarThreshold = spark.conf.get(SIDECAR_THRESHOLD_KEY, "10000").toInt
    val payloadKv =
      if (entries.size > sidecarThreshold) {
        spark.createDataFrame(entries)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/$SIDECAR")
        Seq("payloads_sidecar" -> "true")
      } else Seq("payloads" -> encodeEntries(entries))
    GraftManifest.write(spark, dir, cut.layout ++ Seq("incremental" -> "true") ++ payloadKv,
      s"incremental epoch of $table (${changed.size} dumped, ${reused.size} reused)")
    Some((entries.iterator.map(_.rows).sum, entries.iterator.map(_.hashSum).sum))
  }

  /** Attach the newest committed epoch READ-ONLY: restore it into this
    * JVM's registry under `table` and verify the restored content
    * against the published fingerprint (count + content hash) — a torn
    * or partially-visible snapshot fails here rather than serving wrong
    * answers. Returns the epoch served.
    */
  def attachLatest(spark: SparkSession, table: String, root: String): Long = {
    val e = latestEpoch(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed epoch under $root"))
    attach(spark, table, root, e)
    e
  }

  /** Metadata-only diff of two committed INCREMENTAL epochs: what moved
    * between a reader's pinned epoch and the newest one, answered from
    * the two payload manifests alone — zero data read, O(batches)
    * driver work at any table size. `carried` = same batch, same
    * content (shared payload); `redumped` = same batch id, content
    * changed (DELETE/UPDATE landed); `added`/`removed` = batch entered/
    * left the manifest (appends, roll-ups, compaction). Row counts are
    * the destination side's, except `removed` (source side's).
    */
  def epochDiff(spark: SparkSession, root: String,
      from: Long, to: Long): DataFrame = {
    def entriesOf(e: Long): Map[Long, PayloadEntry] = {
      val p = GraftManifest.read(spark, dirFor(root, e))
      require(p.getProperty("incremental", "false") == "true",
        s"epoch $e is not incremental — no payload manifest to diff")
      payloadEntries(spark, dirFor(root, e), p).map(pe => pe.batchId -> pe).toMap
    }
    val a = entriesOf(from)
    val b = entriesOf(to)
    val carried = b.filter { case (id, e) => a.get(id).exists(_.mutFp == e.mutFp) }
    val redumped = b.filter { case (id, e) => a.get(id).exists(_.mutFp != e.mutFp) }
    val added = b.view.filterKeys(id => !a.contains(id)).toMap
    val removed = a.view.filterKeys(id => !b.contains(id)).toMap
    val rows = Seq(
      ("carried", carried.size.toLong, carried.valuesIterator.map(_.rows).sum),
      ("redumped", redumped.size.toLong, redumped.valuesIterator.map(_.rows).sum),
      ("added", added.size.toLong, added.valuesIterator.map(_.rows).sum),
      ("removed", removed.size.toLong, removed.valuesIterator.map(_.rows).sum))
    spark.createDataFrame(rows).toDF("status", "batches", "rows")
  }

  /** The epoch's published rows as a lazy DataFrame over its parquet —
    * NO store restore, no copy: the zero-attach-cost read path
    * (`GraftSession.attachView`). Full epochs read `data/`; incremental
    * epochs read the payload files their manifest references.
    */
  def epochFrame(spark: SparkSession, root: String, epoch: Long): DataFrame =
    epochRows(spark, root, epoch, GraftManifest.read(spark, dirFor(root, epoch)))

  private def epochRows(spark: SparkSession, root: String, epoch: Long,
      layout: java.util.Properties): DataFrame = {
    val dir = dirFor(root, epoch)
    if (layout.getProperty("incremental", "false") == "true") {
      val paths = payloadEntries(spark, dir, layout)
        .map(_.name).filter(_.nonEmpty)
        .map(n => s"$root/$PAYLOADS/$n")
      require(paths.nonEmpty, s"epoch $epoch has no payload files")
      spark.read.parquet(paths: _*)
    } else spark.read.parquet(s"$dir/data")
  }

  /** Verify a frame against the epoch's published fingerprint (the same
    * check [[attach]] performs on the restored store table). O(rows) —
    * optional for the view path, where trusting the marker protocol +
    * parquet checksums is the zero-cost default.
    */
  def verifyAgainst(spark: SparkSession, root: String, epoch: Long,
      df: DataFrame): Unit = {
    val props = GraftManifest.readOpt(spark, dirFor(root, epoch), EPOCH_PROPS)
      .getOrElse(throw new IllegalStateException(
        s"epoch $epoch has no manifest under $root"))
    val (rows, h) = fingerprint(df)
    val (wantRows, wantH) =
      (props.getProperty("rows").toLong, props.getProperty("content_hash").toLong)
    if (rows != wantRows || h != wantH)
      throw new IllegalStateException(
        s"torn snapshot at epoch $epoch: read ($rows, $h) != published ($wantRows, $wantH)")
  }

  def attach(spark: SparkSession, table: String, root: String, epoch: Long): Unit = {
    val dir = dirFor(root, epoch)
    val props = GraftManifest.readOpt(spark, dir, EPOCH_PROPS).getOrElse(
      throw new IllegalStateException(s"epoch $epoch has no manifest under $root"))
    val layout = GraftManifest.read(spark, dir)
    val ops = StoreOps.forManifest(layout)
    val (rows, h) = fingerprint(
      ops.restoreFrom(spark, table, layout, epochRows(spark, root, epoch, layout)))
    val (wantRows, wantH) =
      (props.getProperty("rows").toLong, props.getProperty("content_hash").toLong)
    if (rows != wantRows || h != wantH) {
      // do not leave a known-bad snapshot registered as servable
      ops.drop(table)
      throw new IllegalStateException(
        s"torn snapshot at epoch $epoch: restored ($rows, $h) != published ($wantRows, $wantH)")
    }
  }
}
