package org.apache.spark.sql.graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Distributed DML over graftstore tables — the rebuild of the
  * reference's mutation executors (ColumnUpdateExec.scala:38 update
  * deltas, ColumnDeleteExec.scala:35 delete bitmaps,
  * ColumnTableBulkOps.scala put-into), expressed as Spark jobs over the
  * store's hidden physical-address metadata columns.
  *
  * Scale shape: every op is O(delta), never O(table) —
  *  - the matching rows are found by a normal pushed-down scan;
  *  - per-batch artifacts (delete bitmaps / update-delta payloads) are
  *    built by TASKS after a shuffle on `_graft_batch_id` (delta-sized),
  *    with payloads registered executor-side;
  *  - only metadata (batch ids, bitmap words, delta ids) returns to the
  *    driver, which swaps the table snapshot atomically. Readers planned
  *    before the swap keep their consistent snapshot (snapshot
  *    isolation, reference snapshot-transaction semantics).
  */
object GraftStoreOps
    extends StoreOps[GraftColumnStore.TableSnapshot, GraftColumnStore.BatchRef, ColumnLayout] {
  import GraftColumnStore.{BatchRef, TableSnapshot}

  val FORMAT: String = classOf[GraftColumnSource].getName
  val provider: String = "column"
  protected val registry: GraftColumnStore.type = GraftColumnStore
  protected def tier: PayloadTier[_] = GraftColumnStore.batches

  /** Seal size, codec, sketch set and roll-up policy take an explicit
    * option, else the existing table's (so compact/createIndex rewrites
    * keep the granularity the index was built at and keep compressing),
    * else the default; so does the index clustering (a rewrite that
    * destroys it passes `sort_by ''`). Only an EXPLICIT sketch set
    * validates against the caller's schema: the inherited set must not
    * reject a reader's partial user-specified schema (reading needs no
    * digests).
    */
  protected def resolveOwn(schema: StructType, options: Map[String, String],
      existing: Option[TableSnapshot]): ColumnLayout = {
    val (d, prev) = (ColumnLayout(), existing.map(ownOf))
    def own[A](key: String, parse: String => A, old: ColumnLayout => A, default: A): A =
      options.get(key).map(parse).orElse(prev.map(old)).getOrElse(default)
    val l = ColumnLayout(
      own("batch_size", _.toInt, _.batchSize, d.batchSize),
      own("sort_by", BaseLayout.columnList, _.sortBy, d.sortBy),
      own("compression", _.toLowerCase, _.compression, d.compression),
      own("sketch_columns", GraftColumnStore.DistinctSketch.parseSketchColumns(_, schema),
        _.sketchBy, d.sketchBy),
      own("rollup_threshold", _.toInt, _.rollupThreshold, d.rollupThreshold))
    require(l.batchSize > 0, s"graftstore: batch_size must be > 0, got ${l.batchSize}")
    require(l.compression == "none" || l.compression == "lz4",
      s"graftstore: unsupported compression '${l.compression}' (none | lz4)")
    require(l.rollupThreshold >= 0,
      s"graftstore: rollup_threshold must be >= 0, got ${l.rollupThreshold}")
    l
  }

  protected def ownOf(s: TableSnapshot): ColumnLayout =
    ColumnLayout(s.batchSize, s.sortedBy, s.compression, s.sketchBy, s.rollupThreshold)

  /** A checkpoint keeps clustering, seal size, codec, sketch set and the
    * roll-up policy.
    */
  protected def ownKeys: Seq[(String, ColumnLayout => String)] = Seq(
    ("sort_by", _.sortBy.mkString(",")),
    ("batch_size", _.batchSize.toString),
    ("compression", _.compression),
    ("sketch_columns", _.sketchBy.mkString(",")),
    ("rollup_threshold", _.rollupThreshold.toString))

  protected def ownTunables: Seq[String] =
    Seq("batch_size", "compression", "sketch_columns", "rollup_threshold")

  /** The whole layout; a truncate write's batches are unclustered until
    * a z-order rewrite records its columns again.
    */
  protected def withLayout(s: TableSnapshot, schema: StructType, base: BaseLayout,
      own: ColumnLayout): TableSnapshot =
    retune(s.copy(schema = schema, bucketBy = base.bucketBy, numBuckets = base.numBuckets,
      keyColumns = base.keyColumns, sortedBy = own.sortBy, zorderedBy = Nil), base, own)

  protected def retune(s: TableSnapshot, base: BaseLayout, own: ColumnLayout): TableSnapshot =
    s.copy(batchSize = own.batchSize, compression = own.compression,
      evictionBudget = base.evictionBudget, sketchBy = own.sketchBy,
      expireSeconds = base.expireSeconds, rollupThreshold = own.rollupThreshold)

  protected def register(name: String, schema: StructType, base: BaseLayout,
      own: ColumnLayout, replace: Boolean): GraftColumnStore.StoreTable =
    registry.register(name, new GraftColumnStore.StoreTable(name, withLayout(
      TableSnapshot(schema, Nil, 0, Nil, Vector.empty, Map.empty, Map.empty), schema, base, own)),
      replace)

  protected def newTable(name: String, schema: StructType, base: BaseLayout,
      own: ColumnLayout): StoreTable[ColumnLayout] =
    new GraftTable(name, schema, base, own)

  /** An upsert staged matched-key deletes for THIS append (token-keyed,
    * so a concurrent upsert's staged set is untouched): apply them and
    * the new refs in ONE swap (atomic PUT INTO).
    */
  override protected def appendCommit(t: GraftColumnStore.StoreTable,
      refs: Vector[BatchRef], options: CaseInsensitiveStringMap): Unit =
    Option(options.get("staged_token")).filter(_.nonEmpty)
      .flatMap(GraftColumnStore.takeStagedDeletes) match {
      case Some(staged) => t.applyDeletes(staged, refs)
      case None => t.appendRefs(refs)
    }

  /** The heap pool spills past-budget batches now that the snapshot
    * carries the new refs; then the row-buffer roll-up (the reference's
    * always-on behavior, opt-in per table here so bulk loads keep
    * byte-stable layouts, PERF_NOTES §23): when any bucket accumulates
    * `rollup_threshold` small seals, merge them now — the streaming
    * foreachBatch ingest loop is the shape that otherwise grows
    * unbounded per-bucket tails of tiny batches.
    */
  override protected def afterCommit(table: String): Unit = {
    GraftColumnStore.enforceHeapPool(table)
    registry.get(table).map(_.snapshot).foreach { snap =>
      val thr = snap.rollupThreshold
      if (thr > 0 && snap.liveRefs.filter(_.isDelta).groupBy(_.bucketId).values
          .exists(_.size >= thr))
        rollupSmallBatches(SparkSession.active, table, thr)
    }
  }

  /** z-clustering is physical row order, which the restore write's bucket
    * shuffle does not preserve — re-clustered from the manifest.
    */
  protected val rebuiltKey: String = "zorder_by"
  protected def rebuiltColumns(snap: GraftColumnStore.TableSnapshot): Seq[String] =
    snap.zorderedBy
  protected def rebuild(spark: SparkSession, table: String, columns: Seq[String]): Unit =
    if (columns.nonEmpty) zorderBy(spark, table, columns)

  private[store] val pinOption: String = "batch_ids"
  private[store] val addressColumn: String = GraftTable.BATCH_ID_COL
  private[store] val payloadPrefix: String = "b"
  /** The delete bitmap id plus the sorted update delta ids of each batch
    * (see [[GraftColumnStore.TableSnapshot.mutationState]]).
    */
  protected def mutationFingerprints(snap: GraftColumnStore.TableSnapshot,
      ids: Set[Long]): Map[Long, String] =
    snap.mutationState(ids).map { case (id, (bitmap, deltas)) =>
      id -> s"${bitmap.getOrElse(-1L)}|${deltas.mkString(",")}"
    }

  /** A rewrite keeps the batch size and codec, and the sketch set minus
    * any dropped column — explicit even when empty, so a dropped sketch
    * column cannot linger via layout inheritance. The rewrite destroys
    * the index clustering, so its claim goes.
    */
  override protected def rewriteOptions(snap: GraftColumnStore.TableSnapshot,
      r: Relayout): Seq[(String, String)] = Seq(
    "sort_by" -> "",
    "batch_size" -> snap.batchSize.toString,
    "compression" -> snap.compression,
    "sketch_columns" -> r.surviving(snap.sketchBy).mkString(","))

  /** The catalog read: only catalog-resolved scans carry the
    * bucket-grouped KeyGroupedPartitioning (the bucket transform's
    * function resolves through GraftCatalog), which is what lets
    * bucket-key joins and aggregations skip the store-side exchange — a
    * reader-based load of the same table reports UnknownPartitioning.
    * A session without the graft catalog registered gets that load.
    */
  override def sessionRead(spark: SparkSession, table: String): DataFrame =
    scala.util.Try(spark.table(s"graft.$table")).getOrElse(read(spark, table))

  /** The scan plus its physical row address (hidden metadata columns).
    * Public for callers that compute a matched-row frame ONCE and thread
    * it through [[putIntoAddressed]] (the matview refresh merges) — the
    * address columns are `_bid`/`_rid`, leading.
    */
  def readAddressed(spark: SparkSession, table: String): DataFrame = {
    val df = read(spark, table)
    df.select(df.metadataColumn(GraftTable.BATCH_ID_COL).as("_bid"),
      df.metadataColumn(StoreTable.ROW_IDX_COL).as("_rid"), col("*"))
  }

  private def withAddress(spark: SparkSession, table: String): DataFrame =
    readAddressed(spark, table)

  /** DELETE FROM table WHERE cond. */
  override def delete(spark: SparkSession, table: String, cond: Column): Unit = {
    ReplicaGuard.requireWritable(table, "delete")
    MatViews.guardWrite(table)
    deleteAddressed(spark, table,
      withAddress(spark, table).filter(coalesce(cond, lit(false))))
  }

  /** DELETE every row whose key matches a row of `keys`. */
  override def deleteKeys(spark: SparkSession, table: String, keys: DataFrame): Unit = {
    ReplicaGuard.requireWritable(table, "deleteKeys")
    MatViews.guardWrite(table)
    val t = GraftColumnStore(table)
    val keyCols = t.snapshot.keyColumns
    require(keyCols.nonEmpty, s"deleteKeys($table) requires key_columns")
    deleteAddressed(spark, table,
      withAddress(spark, table).join(keys.select(keyCols.map(col): _*), keyCols, "left_semi"))
  }

  /** Turn a DataFrame carrying (_bid, _rid) into per-batch delete bitmaps:
    * shuffle on batch id, build bitmaps task-side and register the
    * payloads in the executor-resident [[GraftColumnStore.BatchRegistry]]
    * — only (batchId, bitmapRef, cardinality) triples return to the
    * driver (the same payload/ref split the update-delta path uses). A
    * 100 TB table deleting 10% of its rows ships ~24 bytes per touched
    * batch through the driver, not ~numRows/8 bitmap bytes.
    */
  private def deleteAddressed(spark: SparkSession, table: String, addressed: DataFrame): Unit = {
    val refs = collectDeleteRefs(spark, addressed)
    if (refs.nonEmpty) GraftColumnStore(table).applyDeletes(refs)
  }

  /** Run the bitmap-building job and register the payloads, WITHOUT
    * committing: the caller either applies the returned refs (one swap)
    * or stages them for an append commit to apply atomically.
    */
  private def collectDeleteRefs(spark: SparkSession,
      addressed: DataFrame): Map[Long, GraftColumnStore.DeleteRef] = {
    import spark.implicits._
    addressed.select(col("_bid"), col("_rid"))
      .repartition(col("_bid"))
      .as[(Long, Int)]
      .mapPartitions { it =>
        val acc = mutable.Map.empty[Long, mutable.BitSet]
        it.foreach { case (b, r) => acc.getOrElseUpdate(b, mutable.BitSet.empty) += r }
        acc.iterator.map { case (b, s) =>
          (b, GraftColumnStore.BatchRegistry.putBitmap(s.toBitMask), s.size)
        }
      }
      .collect()
      .map { case (b, id, n) => b -> GraftColumnStore.DeleteRef(id, n) }
      .toMap
  }

  /** UPDATE table SET assignments WHERE cond. New values are computed by
    * the (codegen'd) scan+project, shuffled to co-locate per batch, and
    * written as per-(batch, column) delta payloads registered
    * executor-side; the driver receives delta REFS and swaps the
    * snapshot. The scan already merges prior deltas, so repeated updates
    * compose.
    */
  override def update(spark: SparkSession, table: String, cond: Column,
      assignments: Seq[(String, Column)]): Unit = {
    ReplicaGuard.requireWritable(table, "update")
    MatViews.guardWrite(table)
    import spark.implicits._
    val t = GraftColumnStore(table)
    val schema = t.schema
    // same guard as the row store: deltas update a row IN PLACE, so
    // assigning a bucket/key column would leave the row physically in
    // its old bucket while its key claims another — bucket pruning and
    // storage-partitioned joins would then silently miss it
    locally {
      val snap = t.snapshot
      assignments.foreach { case (n, _) =>
        require(!snap.keyColumns.contains(n) && !snap.bucketBy.contains(n),
          s"graftstore.update($table): cannot assign key/bucket column $n")
      }
    }
    val colIdxs = assignments.map { case (n, _) => schema.fieldIndex(n) }.toArray
    val dts = colIdxs.map(schema.fields(_).dataType)
    // sketched columns digest their replacement values (UPDATE can
    // introduce values no sealed batch holds — see ColumnDeltaRef.sketch)
    val sketched = {
      val by = t.snapshot.sketchBy
      colIdxs.map(i => by.contains(schema.fields(i).name))
    }
    val proj = withAddress(spark, table)
      .filter(coalesce(cond, lit(false)))
      .select(col("_bid") +: col("_rid") +:
        assignments.map { case (n, c) => c.as(s"_new_$n") }: _*)
    val refs = proj
      .repartition(col("_bid"))
      .mapPartitions { it =>
        val convs = dts.map(CatalystTypeConverters.createToCatalystConverter)
        val acc = mutable.Map.empty[Long, (ArrayBuffer[Int], Array[ArrayBuffer[Any]])]
        it.foreach { row =>
          val (rows, vals) = acc.getOrElseUpdate(row.getLong(0),
            (ArrayBuffer.empty[Int], Array.fill(colIdxs.length)(ArrayBuffer.empty[Any])))
          rows += row.getInt(1)
          var k = 0
          while (k < colIdxs.length) {
            vals(k) += (if (row.isNullAt(2 + k)) null else convs(k)(row.get(2 + k)))
            k += 1
          }
        }
        acc.iterator.flatMap { case (bid, (rows, vals)) =>
          val order = rows.indices.sortBy(rows(_)).toArray
          val sortedRows = order.map(rows(_))
          colIdxs.indices.map { k =>
            val sortedVals = order.map(vals(k)(_))
            val id = GraftColumnStore.BatchRegistry.putDelta(
              new GraftColumnStore.ColumnDeltaPayload(sortedRows, sortedVals))
            val sketch =
              if (!sketched(k)) null
              else {
                val s = GraftColumnStore.DistinctSketch.create()
                sortedVals.foreach(v =>
                  if (v != null) GraftColumnStore.DistinctSketch.update(s, dts(k), v))
                GraftColumnStore.DistinctSketch.serialize(s)
              }
            (bid, colIdxs(k), id, sortedRows.length, sketch)
          }
        }
      }
      .collect()
    if (refs.nonEmpty)
      t.applyUpdates(refs.toIndexedSeq.map { case (b, c, d, n, sk) =>
        (b, c, GraftColumnStore.ColumnDeltaRef(d, n, sk))
      })
  }

  /** PUT INTO (key upsert): matched target rows are superseded via the
    * delete-bitmap path and the (key-deduplicated) source appends through
    * the normal bucketed write — the LeftAnti/union split of the
    * reference's ColumnTableBulkOps reformulated as delete + delta-insert,
    * both O(source).
    */
  def putInto(spark: SparkSession, table: String, source: DataFrame): Unit =
    putInto(spark, table, source, sourceKeyUnique = false)

  override def put(spark: SparkSession, table: String, source: DataFrame): Unit =
    putInto(spark, table, source)

  /** As [[putInto]]; `sourceKeyUnique = true` skips the key
    * deduplication pass when the CALLER proves the source is unique per
    * key (the matview refresh merges are groupBy(key) outputs — re-
    * deduplicating them costs an extra aggregate of the whole merge
    * frame on every refresh for rows that cannot collide).
    *
    * CONTRACT, not a hint: passing `true` with a duplicate-keyed source
    * CORRUPTS the table — the matched target rows delete once and every
    * source duplicate appends, so the keyed-uniqueness invariant breaks
    * silently. Enable `spark.sql.graft.putInto.verifySourceKeyUnique`
    * (default false — it costs one aggregate of the source, exactly the
    * pass this flag exists to skip) to assert the promise in dev runs.
    */
  def putInto(spark: SparkSession, table: String, source: DataFrame,
      sourceKeyUnique: Boolean): Unit = {
    ReplicaGuard.requireWritable(table, "putInto")
    MatViews.guardWrite(table)
    val t = GraftColumnStore(table)
    val keyCols = t.snapshot.keyColumns
    require(keyCols.nonEmpty, s"putInto($table) requires key_columns")
    // one materialization feeds both the delete and the append — a
    // consistent source view (reference ColumnTableBulkOps caches the
    // source join for the same reason) and no recomputed dedup shuffle
    val aligned = alignToSchema(t, source)
    val src = (if (sourceKeyUnique) aligned else aligned.dropDuplicates(keyCols))
      .localCheckpoint(false)
    if (sourceKeyUnique) assertSourceKeyUnique(spark, table, src, keyCols)
    // matched-key delete bitmaps are computed WITHOUT committing and
    // staged for the append's commit, which applies both in one atomic
    // snapshot swap: no reader observes keys deleted but not replaced,
    // and a failed append leaves the table untouched (staged payloads
    // are released below)
    val staged = collectDeleteRefs(spark,
      withAddress(spark, table).join(
        src.select(keyCols.map(col): _*), keyCols, "left_semi"))
    commitPut(table, src, staged)
  }

  /** The refresh-merge fast path: as [[putInto]] with a key-unique
    * source, where the caller ALSO supplies `matched` — the CURRENT rows
    * of `table` whose key appears in `source`, carrying the `_bid`/`_rid`
    * address columns of [[readAddressed]]. The matview refresh merges
    * already semi-join the view against their delta's keys to build the
    * merge frame; threading that same (checkpointed) frame here drops
    * putInto's second full scan + semi-join of the table on every
    * refresh. Same contract discipline as `sourceKeyUnique`: `matched`
    * must cover EXACTLY the key-matched target rows — missing rows
    * duplicate keys, extra rows lose them. Both promises are asserted
    * under `spark.sql.graft.putInto.verifySourceKeyUnique`.
    */
  def putIntoAddressed(spark: SparkSession, table: String, source: DataFrame,
      matched: DataFrame): Unit = {
    ReplicaGuard.requireWritable(table, "putInto")
    MatViews.guardWrite(table)
    val t = GraftColumnStore(table)
    val keyCols = t.snapshot.keyColumns
    require(keyCols.nonEmpty, s"putInto($table) requires key_columns")
    // no localCheckpoint here: the source feeds exactly ONE action (the
    // append) — the delete side reads the caller's matched frame
    val src = alignToSchema(t, source)
    assertSourceKeyUnique(spark, table, src, keyCols)
    assertMatchedCoverage(spark, table, src, matched, keyCols)
    val staged = collectDeleteRefs(spark,
      matched.select(col("_bid"), col("_rid")))
    commitPut(table, src, staged)
  }

  private def alignToSchema(t: GraftColumnStore.StoreTable,
      source: DataFrame): DataFrame = {
    val cols = t.schema.fieldNames.toSeq
    if (source.columns.toSeq == cols) source
    else if (source.columns.toSet == cols.toSet) source.select(cols.map(col): _*)
    else source.toDF(cols: _*)
  }

  private def verifyPutInto(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.graft.putInto.verifySourceKeyUnique", "false").toBoolean

  /** Debug-mode teeth for the `sourceKeyUnique` caller promise (see
    * [[putInto]]): one count-vs-distinct-count aggregate, only under
    * `spark.sql.graft.putInto.verifySourceKeyUnique = true`.
    */
  private def assertSourceKeyUnique(spark: SparkSession, table: String,
      src: DataFrame, keyCols: Seq[String]): Unit = {
    if (!verifyPutInto(spark)) return
    val Array(n, nKeys) = src.agg(count(lit(1)),
      count_distinct(struct(keyCols.map(col): _*))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    require(n == nKeys,
      s"putInto($table): sourceKeyUnique promised but source has $n rows " +
        s"over $nKeys distinct keys — the caller's uniqueness proof is wrong " +
        "(this would silently corrupt the keyed table)")
  }

  /** Debug-mode teeth for [[putIntoAddressed]]'s `matched` contract,
    * under the same conf as [[assertSourceKeyUnique]]: `matched` must
    * carry exactly the rows of table ⋉ source keys — the same keys at the
    * same `_bid`/`_rid` addresses. A missing row would duplicate its key
    * after the append, an extra one would lose a key.
    */
  private def assertMatchedCoverage(spark: SparkSession, table: String,
      src: DataFrame, matched: DataFrame, keyCols: Seq[String]): Unit = {
    if (!verifyPutInto(spark)) return
    val cols = (keyCols ++ Seq("_bid", "_rid")).map(col)
    val want = withAddress(spark, table)
      .join(src.select(keyCols.map(col): _*), keyCols, "left_semi").select(cols: _*)
    val got = matched.select(cols: _*)
    val missing = want.except(got).count()
    val extra = got.except(want).count()
    require(missing == 0 && extra == 0,
      s"putIntoAddressed($table): matched frame misses $missing and adds $extra " +
        "of the table ⋉ source-key rows — the caller's matched set is stale or " +
        "mis-joined (this would silently duplicate or lose keys)")
  }

  /** Stage the delete refs under a fresh token and run the append commit,
    * which applies both in one atomic snapshot swap (shared tail of the
    * putInto variants).
    */
  private def commitPut(table: String, src: DataFrame,
      staged: Map[Long, GraftColumnStore.DeleteRef]): Unit = {
    // token-keyed staging: this upsert's commit consumes exactly this
    // set, even with another putInto in flight on the same table
    val token = s"$table#${java.util.UUID.randomUUID()}"
    if (staged.nonEmpty) GraftColumnStore.stageDeletes(token, staged)
    try src.write.format(FORMAT).option("table", table)
      .option("staged_token", if (staged.nonEmpty) token else "")
      .mode("append").save()
    catch {
      case e: Throwable =>
        GraftColumnStore.takeStagedDeletes(token).foreach(d =>
          GraftColumnStore.BatchRegistry.release(
            Retirees(Nil, bitmaps = d.values.map(_.bitmapId).toSeq)))
        throw e
    }
  }

  /** Roll delta row-buffer batches, delete bitmaps and update deltas into
    * fresh sealed batches (reference: delta row buffer rolled into column
    * batches). The merged view rewrites through the normal bucketed write
    * path; the swap is atomic and in-flight snapshot readers stay valid.
    * Index clustering survives: the rewrite re-applies the table's
    * `sortedBy` so the fresh batches keep narrow key ranges (otherwise a
    * compaction would silently degrade every index probe to a full scan).
    */
  /** Roll small row-buffer seals into full batches (reference: the
    * column table's row buffer rolls into column batches as it fills —
    * ColumnBatchCreator; here every sub-batch-size commit seals a small
    * `isDelta` batch, so repeated small appends — a streaming
    * foreachBatch ingest loop above all — accumulate per-bucket tails of
    * tiny batches that tax every scan's per-batch overhead and stats
    * row).
    *
    * Scope: reads ONLY the small seals' rows (the scan folds their
    * delete bitmaps and update deltas in), seals merged batches
    * EXECUTOR-side through the same BatchBuilder/payload-ref split as
    * the write path, and commits one atomic [[GraftColumnStore
    * .StoreTable.swapRefs]] that replaces exactly those refs. A racing
    * mutation on any of them aborts the swap and releases the new
    * payloads — maintenance never wins over a writer. Cost is
    * O(small-seal rows), never O(table); full batches are untouched, so
    * clustering claims and their pruning stats are preserved.
    *
    * Merged batches seal fresh: stats, sketch digests and the LZ4 codec
    * re-apply, and their TTL clock restarts (the documented
    * rewrite-restarts-TTL semantics). Returns the number of small seals
    * merged (0 = nothing to do).
    *
    * Auto mode: the `rollup_threshold = N` table option (default 0 =
    * off) makes every write commit roll up any bucket holding ≥ N small
    * seals — the reference's always-on behavior, opt-in here so batch
    * pipelines keep byte-stable layouts unless asked.
    */
  def rollupSmallBatches(spark: SparkSession, table: String,
      minBatches: Int = 4): Int = {
    val t = GraftColumnStore(table)
    val snap = t.snapshot
    val small = snap.liveRefs.filter(_.isDelta)
    val byBucket = small.groupBy(_.bucketId).filter(_._2.size >= minBatches)
    if (byBucket.isEmpty) return 0
    val ids = byBucket.values.flatten.map(_.id).toSet
    // fingerprint the seals' delete/update state NOW, before the merge
    // scan: swapRefs aborts if a DELETE/UPDATE lands on any of them
    // while the merge job runs (captured pre-scan, so a mutation the
    // scan DID fold can only cause a spurious abort — never a lost one)
    val expectedMutations = snap.mutationState(ids)
    val bucketOf = byBucket.values.flatten.map(r => r.id -> r.bucketId).toMap
    val buckets = byBucket.keys.toSeq.sorted
    val bucketSlot = buckets.zipWithIndex.toMap
    // batch_ids prunes the read to EXACTLY the addressed seals at
    // planning (the metadata-column filter alone is post-scan — Spark
    // does not offer it to pushFilters)
    val df = spark.read.format(FORMAT).option("table", table)
      .option("batch_ids", ids.mkString(",")).load()
    // table columns first, __bid LAST: BatchBuilder reads exactly
    // schema.length leading fields, so the trailing address column
    // never reaches the sealed batch (the zorder __z trick)
    val rows = df.select(col("*"),
        df.metadataColumn(GraftTable.BATCH_ID_COL).as("__bid"))
      .filter(col("__bid").isin(ids.toSeq: _*))
    val schema = t.schema
    val bidIdx = schema.length
    val sealSize = snap.batchSize
    val compress = snap.compression == "lz4"
    val sketchBy = snap.sketchBy
    val nSlots = buckets.length
    val slotToBucket = buckets.toArray
    val keyed = rows.queryExecution.toRdd.map { row =>
      val copied = row.copy()
      (bucketSlot(bucketOf(copied.getLong(bidIdx))), copied)
    }
    val bySlot = new org.apache.spark.Partitioner {
      override def numPartitions: Int = nSlots
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val newRefs = keyed.partitionBy(bySlot)
      .mapPartitionsWithIndex { (slot, it) =>
        val builder = new GraftColumnStore.BatchBuilder(
          schema, sealSize, slotToBucket(slot), compress, sketchBy)
        try {
          it.foreach { case (_, row) => builder.add(row) }
          builder.result().iterator
        } catch { case e: Throwable => builder.abort(); throw e }
      }
      .collect().toVector
    if (t.swapRefs(ids, expectedMutations, newRefs)) ids.size
    else {
      // a writer won the race: discard this pass's payloads, next
      // maintenance run sees the fresh snapshot
      GraftColumnStore.batches.release(newRefs.map(_.id))
      0
    }
  }

  // content-preserving rewrite: legal on a matview backing table too
  // (compacting a big summary is exactly the 100 TB case), so it runs
  // inside the maintenance scope rather than tripping the write guard
  def compact(spark: SparkSession, table: String): Unit = MatViews.inMaintenance {
    val snap = GraftColumnStore(table).snapshot
    val w = read(spark, table).write.format(FORMAT).option("table", table)
      .option("compression", snap.compression)
    (if (snap.sortedBy.nonEmpty) w.option("sort_by", snap.sortedBy.mkString(",")) else w)
      .mode("overwrite").save()
    // a z-ordered table re-clusters after the rewrite (the bucketed
    // write's shuffle scrambles the curve; sort_by only covers the
    // single-column clustering)
    if (snap.zorderedBy.nonEmpty) {
      zorderBy(spark, table, snap.zorderedBy)
    }
  }

  /** CREATE INDEX (reference SnappySession.createIndex:1760) — the
    * columnar re-expression of a key index: rewrite the table with each
    * writer partition SORTED on the index columns, so every sealed batch
    * covers a narrow key range and the scan's per-batch min/max skipping
    * becomes the index probe (lookups/ranges on the indexed columns touch
    * only the batches that can contain them — the lakehouse clustering
    * play). Bucketed layout is preserved; O(table) once at build, like
    * any index build.
    */
  override def createIndex(spark: SparkSession, table: String,
      columns: Seq[String]): Unit =
    createIndex(spark, table, columns, batchSize = ColumnLayout.DefaultBatchSize)

  def createIndex(spark: SparkSession, table: String, columns: Seq[String],
      batchSize: Int): Unit = MatViews.inMaintenance {
    // content-preserving like compact: indexing a summary table is legal
    val t = GraftColumnStore(table)
    columns.foreach(c => require(t.schema.fieldNames.contains(c),
      s"CREATE INDEX: no column '$c' in $table"))
    read(spark, table).write.format(FORMAT).option("table", table)
      .option("sort_by", columns.mkString(","))
      .option("batch_size", batchSize.toString)
      .mode("overwrite").save()
  }

  /** DROP INDEX: clears the clustering metadata (the physical order is
    * harmless to keep).
    */
  override def dropIndex(spark: SparkSession, table: String): Unit =
    GraftColumnStore(table).mutate(_.copy(sortedBy = Nil))

  /** On-demand EXPIRE maintenance (every write commit also runs it):
    * retire batches/packs whose TTL has fully passed, whichever store
    * holds the table. Returns sealed units retired.
    */
  def expireSweep(spark: SparkSession, table: String): Int =
    GraftColumnStore.get(table).orElse(GraftRowStore.get(table))
      .map(_.expireSweep()).getOrElse(0)

  /** APPROX COUNT DISTINCT from batch metadata alone: union the
    * per-(batch, column) HLL digests a `sketch_columns` table maintains
    * at write time (plus the update deltas' digests) — O(batches) driver
    * work over ~4 KB digests, the column payloads untouched. This is the
    * stats-row analog of the reference's sketch tier: the scan-time
    * answer `approx_count_distinct` gives costs a full column read; this
    * one costs metadata.
    *
    * Mutation semantics (documented, spec-pinned): digests are sealed
    * with their batch and cannot subtract, so under DELETEs — and for
    * values UPDATE overwrote — the estimate is an UPPER BOUND on the
    * live distinct count; `compact()` rewrites batches (re-digesting
    * live rows only), which tightens the bound back to the sketch's
    * ~2% standard error. Values INTRODUCED by UPDATE are counted via
    * the deltas' own digests, so the estimate never under-counts.
    */
  def approxDistinct(spark: SparkSession, table: String, column: String): Long =
    GraftColumnStore.DistinctSketch.estimate(sketchDigests(table, column))

  /** The table-level serialized HLL digest for a sketched column —
    * bit-compatible with Spark's DataSketches functions, so callers can
    * feed it straight into `hll_sketch_estimate` / `hll_union` (e.g. to
    * combine a store table's digest with a sketch aggregated from an
    * external frame without scanning the store).
    */
  def distinctSketchBytes(spark: SparkSession, table: String,
      column: String): Array[Byte] =
    GraftColumnStore.DistinctSketch.unionBytes(sketchDigests(table, column))

  private def sketchDigests(table: String,
      column: String): Iterator[Array[Byte]] = {
    val t = GraftColumnStore(table)
    val snap = t.snapshot
    require(snap.sketchBy.contains(column),
      s"graftstore.approxDistinct($table): column '$column' has no distinct " +
        s"sketch — create the table with OPTIONS (sketch_columns '$column')")
    val colIdx = t.schema.fieldIndex(column)
    val batchDigests = snap.liveRefs.iterator.map { r =>
      val d = r.stats(colIdx).distinctSketch
      if (d == null) throw new IllegalStateException(
        s"graftstore.approxDistinct($table): batch ${r.id} predates the " +
          s"sketch_columns option — run GraftStoreOps.compact to digest it")
      d
    }
    val deltaDigests = snap.updates.valuesIterator
      .flatMap(_.get(colIdx).iterator.flatMap(_.iterator))
      .map { d =>
        if (d.sketch == null) throw new IllegalStateException(
          s"graftstore.approxDistinct($table): an update delta predates the " +
            s"sketch_columns option — run GraftStoreOps.compact to digest it")
        d.sketch
      }
    batchDigests ++ deltaDigests
  }

  /** Z-ORDER clustering (beyond the reference — the multi-column
    * generalization of [[createIndex]], the Delta/Iceberg OPTIMIZE ZORDER
    * play): rewrite the table ordered by the bit-interleaved quantile
    * bucket of SEVERAL columns, so per-batch min/max stats stay narrow on
    * ALL of them simultaneously and the scan's stats skipping prunes
    * multi-column box predicates. A single-column sort makes stats
    * perfectly narrow on one column and useless on the rest; the z-curve
    * trades a little narrowness on each for usable narrowness on all.
    *
    * Scale shape: one percentile_approx agg over the table (boundaries
    * are metadata), a scan-fused bucket/interleave projection, one range
    * shuffle on the z-value, local sorts. The boundary-compare bucketing
    * is the same 100 TB-safe form as quantile binning (no global rank
    * window). O(table) once at build, like any clustering rewrite.
    * Numeric columns only; v1 serves unbucketed tables (a bucketed
    * rewrite's clustered-distribution requirement would destroy the
    * range order — per-bucket z-ordering is the follow-up).
    */
  def zorderBy(spark: SparkSession, table: String, columns: Seq[String],
      bits: Int = 8, batchSize: Int = -1): Unit = MatViews.inMaintenance {
    // content-preserving like compact: clustering a summary table is legal
    import org.apache.spark.sql.functions._
    require(columns.size >= 2, s"zorderBy: need >= 2 columns, got $columns")
    require(columns.size * bits <= 60, s"zorderBy: ${columns.size} cols x $bits bits > 60")
    require(GraftColumnStore.get(table).isDefined,
      s"OPTIMIZE ZORDER: '$table' is not a managed COLUMN table " +
        "(row tables have no batch stats to cluster)")
    val t = GraftColumnStore(table)
    val schema = t.schema
    columns.foreach { c =>
      require(schema.fieldNames.contains(c), s"zorderBy: no column '$c' in $table")
      require(schema.fields(schema.fieldIndex(c)).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType] ||
        schema.fields(schema.fieldIndex(c)).dataType ==
          org.apache.spark.sql.types.DateType,
        s"zorderBy: column '$c' is not numeric")
    }
    // DATE can't cast to DOUBLE (ANSI); route through days-since-epoch
    def numOf(c: String): org.apache.spark.sql.Column =
      if (schema.fields(schema.fieldIndex(c)).dataType ==
          org.apache.spark.sql.types.DateType) unix_date(col(c)).cast("double")
      else col(c).cast("double")
    val df = read(spark, table)
    val nB = 1 << bits
    // ONE pass computes every column's quantile boundaries (metadata-size)
    val bounds = df.agg(
      percentile_approx(numOf(columns.head),
        array((1 until nB).map(i => lit(i.toDouble / nB)): _*), lit(10000))
        .as(s"__q_${columns.head}"),
      columns.tail.map(c =>
        percentile_approx(numOf(c),
          array((1 until nB).map(i => lit(i.toDouble / nB)): _*), lit(10000))
          .as(s"__q_$c")): _*)
    // scan-fused bucket id per column (boundary-compare, nulls → bucket 0)
    def bucketOf(c: String): org.apache.spark.sql.Column =
      when(col(c).isNull, lit(0L)).otherwise(
        aggregate(col(s"__q_$c"), lit(0L),
          (acc, b) => acc + when(numOf(c) > b, 1L).otherwise(0L)))
    // bit-interleave the bucket ids into the z-value
    def zValue(buckets: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
      (0 until bits).foldLeft(lit(0L)) { (acc, bit) =>
        buckets.zipWithIndex.foldLeft(acc) { case (a, (b, ci)) =>
          a.bitwiseOR(shiftleft(
            shiftright(b, bit).bitwiseAND(lit(1L)), bit * buckets.size + ci))
        }
      }
    val cols = df.columns.toSeq
    val snap = t.snapshot
    // the rewrite keeps the table's batch granularity unless the caller
    // overrides (compact() makes the same promise)
    val sealSize = if (batchSize > 0) batchSize else snap.batchSize
    if (snap.bucketBy.isEmpty) {
      df.crossJoin(broadcast(bounds))
        .withColumn("__z", zValue(columns.map(bucketOf)))
        .repartitionByRange(math.max(df.rdd.getNumPartitions, 1), col("__z"))
        .sortWithinPartitions("__z")
        .select(cols.map(col): _*)
        .write.format(FORMAT).option("table", table)
        .option("batch_size", sealSize.toString)
        .option("compression", t.snapshot.compression)
        .option("sort_by", "")
        .mode("overwrite").save()
      // record the clustering as layout metadata (checkpoint/compact
      // re-cluster from it; the overwrite itself reset the claim)
      GraftColumnStore(table).mutate(_.copy(zorderedBy = columns))
      ()
    } else {
      // Per-bucket z-ordering. The DSv2 write path cannot carry a
      // computed sort key (its required ordering speaks schema columns,
      // and pre-shuffled input would be collapsed by CollapseRepartition/
      // EliminateSorts), so the bucketed rewrite seals batches manually:
      // rows route by the store's OWN bucket function (BucketRouting —
      // identity of layout is what colocation depends on), each bucket
      // task sorts its rows by the z-value and seals through BatchBuilder,
      // and the commit is one atomic replaceRefs swap. Same task-side
      // payload/metadata-ref split as the write path.
      val zdf = df.crossJoin(broadcast(bounds))
        .withColumn("__z", zValue(columns.map(bucketOf)))
        .select(cols.map(col) :+ col("__z"): _*)
      val bucketOrds = snap.bucketBy.map(schema.fieldIndex).toArray
      val bucketTypes = bucketOrds.map(schema.fields(_).dataType)
      val zIdx = cols.length
      val numBuckets = snap.numBuckets
      val compress = snap.compression == "lz4"
      val sketchBy = snap.sketchBy
      val rowSchema = schema
      // repartitionAndSortWithinPartitions on a (bucket, z) key: Spark's
      // shuffle-sort streams each bucket's rows in z order, so a task
      // holds BATCHES, never the whole bucket (a bucket of a 100 TB
      // table cannot sit in one array)
      val keyed = zdf.queryExecution.toRdd
        .map { row =>
          val copied = row.copy()
          val b = BucketRouting.bucketOf(
            bucketOrds.indices.map(i => copied.get(bucketOrds(i), bucketTypes(i))),
            bucketTypes.toSeq, numBuckets)
          ((b, copied.getLong(zIdx)), copied)
        }
      val byBucket = new org.apache.spark.Partitioner {
        override def numPartitions: Int = numBuckets
        override def getPartition(key: Any): Int = key.asInstanceOf[(Int, Long)]._1
      }
      val newRefs = keyed
        .repartitionAndSortWithinPartitions(byBucket)
        .mapPartitionsWithIndex { (bucketId, it) =>
          // BatchBuilder reads exactly rowSchema.length leading fields, so
          // the trailing __z column never reaches the sealed batch;
          // payloads registered by a FAILED attempt are released on the
          // task's error path (the DSv2 abort analog — a retry's
          // successful attempt re-registers fresh ids)
          val builder = new GraftColumnStore.BatchBuilder(
            rowSchema, sealSize, bucketId, compress, sketchBy)
          try {
            it.foreach { case (_, row) => builder.add(row) }
            builder.result().iterator
          } catch { case e: Throwable => builder.abort(); throw e }
        }
        .collect().toVector
      try {
        t.replaceRefs(newRefs)
        // record clustering AND the seal granularity as layout metadata —
        // the DSv2 path records batch_size via its commit; this manual
        // path must too, or a later compact() re-seals at the stale size
        // (one batch per bucket = nothing left to prune). sortedBy is
        // CLEARED like the unbucketed overwrite implicitly does: the
        // z-rewrite destroyed any prior index clustering, and a stale
        // claim makes compact() double-rewrite (sort_by then re-z) and
        // checkpoints record contradictory sort_by + zorder_by layout
        t.mutate(_.copy(zorderedBy = columns, sortedBy = Nil, batchSize = sealSize))
        GraftColumnStore.enforceHeapPool(table)
      } catch { case e: Throwable =>
        GraftColumnStore.batches.release(newRefs.map(_.id))
        throw e
      }
    }
  }
}
