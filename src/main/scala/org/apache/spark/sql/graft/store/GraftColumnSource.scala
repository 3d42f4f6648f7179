package org.apache.spark.sql.graft.store

import java.util
import java.util.OptionalLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.BitSet
import scala.jdk.CollectionConverters._

/** DataSource v2 front-end for [[GraftColumnStore]] — the Spark-idiomatic
  * rebuild of the reference's column-table scan/write path
  * (reference: ColumnTableScan batch-stats skipping
  * core/.../columnar/ColumnTableScan.scala:900-980, filter pushdown
  * StoreDataSourceStrategy.scala:55, writes ColumnInsertExec.scala:45,
  * bucketed outputPartitioning ExistingPlans.scala:49).
  *
  * Capabilities:
  *  - COLUMNAR batch read with per-batch min/max/null stats skipping and
  *    column pruning; delete bitmaps and update deltas merged during the
  *    read (reference ColumnFormatRelation.scala:137-161);
  *  - hidden metadata columns `_graft_batch_id` / `_graft_row_idx`
  *    addressing physical rows — the substrate for distributed
  *    UPDATE/DELETE/PUT (see [[GraftStoreOps]]);
  *  - bucketed writes: the Write REQUIRES a clustered distribution on the
  *    bucket columns with exactly `buckets` partitions, so Spark routes
  *    rows before they reach the writer and writer partition id == bucket
  *    id; scans then report a bucket-grouped partitioning
  *    (`KeyGroupedPartitioning` over `bucket(n, cols)`) so equi-joins of
  *    co-bucketed tables plan without an Exchange (storage-partitioned
  *    join; resolves through [[GraftCatalog]]'s bucket function);
  *  - commit messages carry [[GraftColumnStore.BatchRef]]s — ids + stats,
  *    never data; payloads are written by the tasks into the
  *    executor-resident [[GraftColumnStore.batches]] tier.
  */
class GraftColumnSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val name = options.get("table")
    GraftColumnStore.get(name).map(_.schema)
      .getOrElse(throw new IllegalArgumentException(s"graftstore table not found: $name"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    GraftTable.fromOptions(properties.get("table"), schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

object GraftTable {
  val BATCH_ID_COL = "_graft_batch_id"
  val ROW_IDX_COL = "_graft_row_idx"

  def fromOptions(name: String, schema: StructType, props: Map[String, String]): GraftTable = {
    val existing = GraftColumnStore.get(name).map(_.snapshot)
    val base = BaseLayout.fromOptions("graftstore", existing, props)
    val sortBy = props.get("sort_by").map(BaseLayout.columnList).getOrElse(Nil)
    // batch size is part of the table's physical layout: an explicit
    // option wins, else the existing table's size, else the default —
    // so a compact() rewrite keeps the granularity the index was built at
    val batchSize = props.get("batch_size").map(_.toInt)
      .orElse(existing.map(_.batchSize)).getOrElse(16384)
    // at-rest codec, like batch size part of the physical layout — an
    // explicit option wins, else the existing table's codec (so compact/
    // createIndex rewrites keep compressing), else uncompressed
    val compression = props.get("compression").map(_.toLowerCase)
      .orElse(existing.map(_.compression)).getOrElse("none")
    require(compression == "none" || compression == "lz4",
      s"graftstore: unsupported compression '$compression' (none | lz4)")
    // per-batch HLL distinct digests (SKETCH_COLUMNS): layout metadata
    // like the codec — an explicit option wins (enabling on an existing
    // table makes future appends/compacts digest), else the existing
    // table's set. Only an EXPLICIT option validates against the
    // caller's schema: the inherited set must not reject a reader's
    // partial user-specified schema (reading needs no digests).
    val sketchBy = props.get("sketch_columns")
      .map(GraftColumnStore.DistinctSketch.parseSketchColumns(_, schema))
      .orElse(existing.map(_.sketchBy)).getOrElse(Nil)
    // per-table roll-up policy (streaming-ingest tables opt in at
    // CREATE; see PERF_NOTES §23 for why this is not a session default)
    props.get("rollup_threshold").foreach { v =>
      val n = v.toInt
      require(n >= 0, s"graftstore: rollup_threshold must be >= 0, got $n")
      GraftColumnStore.setRollupThreshold(name, n)
    }
    new GraftTable(name, schema, batchSize, base.bucketBy, base.numBuckets,
      base.keyColumns, sortBy, compression, base.evictionBudget, sketchBy,
      base.expireSeconds)
  }
}

class GraftTable(tableName: String, tableSchema: StructType, batchSize: Int,
    bucketBy: Seq[String], numBuckets: Int, keyColumns: Seq[String],
    sortBy: Seq[String] = Nil, compression: String = "none",
    evictionBudget: Long = 0L, sketchBy: Seq[String] = Nil,
    expireSeconds: Long = 0L)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns {
  import GraftTable._

  /** Bare store-table name (no `graftstore.` prefix) — rule/strategy access. */
  def storeName: String = tableName
  /** Columns maintaining per-batch distinct digests — rule access. */
  def sketchColumns: Seq[String] = sketchBy

  override def name(): String = s"graftstore.$tableName"
  override def schema(): StructType = tableSchema
  /** Layout surfaced to `DESCRIBE TABLE EXTENDED graft.t` (Table
    * Properties section) — the operational answer to "how is this table
    * physically configured" without touching internal snapshots.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("batch_size", batchSize.toString)
    if (keyColumns.nonEmpty) m.put("key_columns", keyColumns.mkString(","))
    if (sortBy.nonEmpty) m.put("sort_by", sortBy.mkString(","))
    if (compression != "none") m.put("compression", compression)
    if (evictionBudget > 0) m.put("eviction_budget_bytes", evictionBudget.toString)
    if (sketchBy.nonEmpty) m.put("sketch_columns", sketchBy.mkString(","))
    if (expireSeconds > 0) m.put("expire_seconds", expireSeconds.toString)
    m
  }
  override def partitioning(): Array[Transform] =
    if (bucketBy.nonEmpty && numBuckets > 0)
      Array(Expressions.bucket(numBuckets, bucketBy: _*))
    else Array.empty
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = BATCH_ID_COL
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
    },
    new MetadataColumn {
      override def name(): String = ROW_IDX_COL
      override def dataType(): DataType = IntegerType
      override def isNullable: Boolean = false
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableName, tableSchema,
      // maintenance reads (roll-up) address specific seals: an explicit
      // batch-id list prunes refs at planning, so touching a few small
      // batches never scans the table
      Option(options.get("batch_ids")).map(
        _.split(",").iterator.map(_.trim.toLong).toSet),
      // strict-freshness matview serving: the rewrite names the view so
      // the scan re-proves its fingerprint at EXECUTION start
      Option(options.get("mv_strict")),
      // maintenance: emit ONLY tombstoned rows (the matview subtractive
      // delete-refresh reads the newly-deleted rows of pinned batches)
      Option(options.get("deleted_rows")).exists(_.toBoolean),
      // repeat-delete refresh: per-batch RECORDED bitmap ids whose rows
      // are excluded from the deleted_rows read — what remains is
      // exactly the rows tombstoned SINCE the view's fingerprint
      // ("bid:bitmapId,bid:bitmapId")
      Option(options.get("exclude_bitmaps")).map(_.split(",").iterator
        .map { kv => val Array(b, m) = kv.split(":"); b.trim.toLong -> m.trim.toLong }
        .toMap).getOrElse(Map.empty),
      // update-delta refresh: emit ONLY rows addressed by update deltas
      // NOT in `since_deltas`, valued as of the recorded delta set
      // ("old") or the current one ("new") — the two sides of the
      // subtract-old/add-new O(delta) matview refresh after UPDATEs
      Option(options.get("updated_rows")),
      Option(options.get("since_deltas")).filter(_.nonEmpty)
        .map(_.split(",").iterator.map(_.trim.toLong).toSet)
        .getOrElse(Set.empty))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // read replicas refuse DSv2 writes too (INSERT INTO graft.t /
    // df.write.format(store)) — the session guard alone cannot see
    // these paths. Checked at plan time so the user gets the refusal
    // before any task launches. Restore/re-attach drops the table
    // first, which clears the flag, so those internal writes pass.
    ReplicaGuard.requireWritable(tableName, "write")
    // matview backing tables are engine-maintained the same way —
    // refresh/rebuild passes via the maintenance scope
    MatViews.guardWrite(tableName)
    new GraftWriteBuilder(tableName, info.schema(), batchSize, bucketBy, numBuckets,
      keyColumns, sortBy, compression, evictionBudget,
      info.options.getOrDefault("staged_token", ""), sketchBy, expireSeconds)
  }
}

// ------------------------------- read path -------------------------------

class GraftScanBuilder(tableName: String, fullSchema: StructType,
    batchIds: Option[Set[Long]] = None,
    mvStrict: Option[String] = None,
    deletedOnly: Boolean = false,
    excludeBitmaps: Map[Long, Long] = Map.empty,
    updatedMode: Option[String] = None,
    sinceDeltas: Set[Long] = Set.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var aggSpec: Option[GraftAggPushdown.AggSpec] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // stats can only PRUNE batches, never fully evaluate a predicate →
    // accept everything for skipping but report all as residual so Spark
    // still applies the exact filter on the surviving rows
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** PARTIAL aggregate pushdown (see [[GraftAggPushdown]]): Spark only
    * offers an aggregation when no post-scan filter remains — and this
    * source reports every filter as residual — so an accepted push is
    * always over the full live table.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    // a batch_ids-restricted read must answer from EXACTLY those seals;
    // GraftAggScan enumerates all live refs, so accepting a push here
    // would silently aggregate the whole table — decline and let the
    // plain GraftScan (which honors batchIds) feed Spark's aggregate
    if (batchIds.isDefined) return false
    // strict-freshness matview scans keep the plain GraftScan so the
    // execution-start freshness re-proof below always runs
    if (mvStrict.isDefined) return false
    // deleted-rows / updated-rows maintenance reads change visibility in
    // the reader; the agg scan enumerates live rows and would answer
    // wrongly
    if (deletedOnly || updatedMode.isDefined) return false
    if (conf.getConfString(GraftAggPushdown.CONF_KEY, "true") != "true" ||
        pushed.nonEmpty) return false
    GraftAggPushdown.translate(aggregation, fullSchema, conf.ansiEnabled) match {
      case Some(spec) =>
        // bucket-key grouping guard: when the group keys cover the
        // bucket columns, the UN-pushed plan aggregates in one phase
        // with ZERO exchange (the storage-partitioned scan already
        // satisfies the grouping). Pushing would replace that with an
        // unpartitioned agg scan + shuffle — strictly worse.
        val snap = GraftColumnStore.get(tableName).map(_.snapshot)
        val bucketCovered = snap.exists { s =>
          s.numBuckets > 0 && s.bucketBy.nonEmpty &&
            s.bucketBy.forall { b =>
              val i = fullSchema.fieldNames.indexWhere(_.equalsIgnoreCase(b))
              spec.groupCols.contains(i)
            }
        }
        if (bucketCovered) return false
        aggSpec = Some(spec)
        GraftColumnStore.aggPushes.incrementAndGet()
        true
      case None => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // top-level pruning only: batches hold WHOLE container values, so a
    // nested-pruned struct type saves no store reads but would misalign
    // the position-based vector writers — report the full column type
    // and let Spark project the nested fields above (the v2 pushdown
    // rule rebuilds the relation output from the scan's readSchema).
    // A pushed aggregation fixes the read schema itself.
    if (aggSpec.isEmpty) {
      required = StructType(requiredSchema.fields.map { f =>
        if (fullSchema.fieldNames.contains(f.name)) fullSchema(f.name) else f
      })
    }

  override def build(): Scan = aggSpec match {
    case Some(spec) => new GraftAggScan(tableName, fullSchema, spec)
    case None => new GraftScan(tableName, fullSchema, required, pushed,
      batchIds, mvStrict, deletedOnly, excludeBitmaps, updatedMode,
      sinceDeltas)
  }
}

/** Per-batch work unit shipped to readers: the ref plus its merge state
  * (delete-bitmap REF + ordered update-delta refs per column index —
  * payloads resolve from the executor-resident registry at decode).
  */
case class BatchWork(
    ref: GraftColumnStore.BatchRef,
    deletes: Option[GraftColumnStore.DeleteRef],
    updates: Map[Int, Vector[GraftColumnStore.ColumnDeltaRef]],
    // deleted_rows reads only: the RECORDED bitmap id whose rows are
    // excluded (repeat-delete refresh — what remains is the rows
    // tombstoned since the matview fingerprint); resolves task-side
    excludeBitmapId: Option[Long] = None)

class GraftScan(tableName: String, fullSchema: StructType,
    required: StructType, pushedFilters: Array[Filter],
    batchIds: Option[Set[Long]] = None,
    mvStrict: Option[String] = None,
    deletedOnly: Boolean = false,
    excludeBitmaps: Map[Long, Long] = Map.empty,
    updatedMode: Option[String] = None,
    sinceDeltas: Set[Long] = Set.empty)
    extends Scan with Batch with SupportsReportStatistics with SupportsReportPartitioning
    with SupportsRuntimeFiltering {

  /** Store-table identity, for planner rules that inspect store metadata
    * (DictJoinStrategy's auto gate reads the key column's encoding).
    */
  def table: String = tableName

  // One consistent snapshot for the whole scan (planning + stats),
  // captured together with a reader lease so payloads it references
  // survive concurrent mutations until the last partition reader closes
  // (see LeaseGc). The lease is sealed with the partition count at
  // planInputPartitions; each reader's close() releases one unit.
  private lazy val pinned: (GraftColumnStore.TableSnapshot, Long) = {
    val t = GraftColumnStore(tableName)
    val p = t.pinSnapshot()
    // this scan keeps its lease alive; if the plan is discarded without
    // running, the Cleaner force-drops the lease once the scan (and any
    // reader factory) become unreachable
    t.addLeaseOwner(p._2, this)
    p
  }
  private def snapshot = pinned._1
  private def leaseId = pinned._2

  /** Runtime (dynamic-partition-pruning) filters: Spark hands the
    * realized join-key values of a completed broadcast side here before
    * partitions are planned — they prune buckets and batches exactly
    * like statically pushed predicates (the reference's join pushdown
    * into bucket regions).
    */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns surviving pruning: Spark resolves these against the
    // scan OUTPUT (and join keys are necessarily in the output)
    required.fieldNames.filterNot(n =>
      n == GraftTable.BATCH_ID_COL || n == GraftTable.ROW_IDX_COL)
      .map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  private def filters: Array[Filter] = pushedFilters ++ runtimeFilters

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graftstore.$tableName pushed=[${filters.mkString(", ")}] cols=[${required.fieldNames.mkString(",")}]"

  private def workFor(ref: GraftColumnStore.BatchRef): BatchWork =
    BatchWork(ref, snapshot.deletes.get(ref.id),
      snapshot.updates.getOrElse(ref.id, Map.empty),
      excludeBitmaps.get(ref.id))

  // recomputed when runtime filters arrive; cached per filter state so
  // pruning (and its telemetry) runs once per planning
  @volatile private var cachedKept: (Array[Filter], Seq[BatchWork]) = null

  private def keptWork: Seq[BatchWork] = {
    val rf = runtimeFilters
    val c = cachedKept
    if (c != null && (c._1 eq rf)) return c._2
    // EXPIRE: batches whose every row exceeds the TTL vanish from scans
    // immediately (age checked once per planning); the payload itself is
    // retired by the next write's expireSweep or an explicit sweep
    val all = snapshot.liveRefs
    val kept = all.filter { r =>
      // columns with update deltas have stale stats → never prune on them
      val updatedCols = snapshot.updates.getOrElse(r.id, Map.empty).keySet
        .map(fullSchema.fields(_).name)
      batchIds.forall(_.contains(r.id)) &&
        BatchPruning.mightMatch(r.stats, r.numRows, fullSchema, filters, updatedCols)
    }
    GraftColumnStore.batchesSkipped.addAndGet(all.size - kept.size)
    GraftColumnStore.batchesScanned.addAndGet(kept.size)
    val works = kept.map(workFor)
    cachedKept = (rf, works)
    works
  }

  /** Bucket pruning for key point lookups (reference: PRIMARY KEY lookups
    * route to one bucket region, RowFormatRelation/GemFire get): when the
    * pushed conjuncts pin EVERY bucket column with EqualTo/In, only the
    * buckets those key values hash to are scanned. The hash chain is
    * identical to Spark's HashPartitioning (murmur3, seed 42) — the
    * distribution the bucketed write required.
    */
  private def targetBuckets: Option[Set[Int]] =
    BucketRouting.targetBuckets(filters, snapshot.bucketBy,
      snapshot.numBuckets, fullSchema)

  /** A bounded key lookup: the pushed EqualTo/In conjuncts pin every key
    * column of a table bucketed on its key, so exactly one bucket (one
    * partition) survives. Plain table reads only: the option-driven
    * maintenance and matview reads keep the job path. [[LocalLookups]]
    * answers these on the calling thread.
    */
  def isKeyLookup: Boolean =
    batchIds.isEmpty && mvStrict.isEmpty && !deletedOnly && updatedMode.isEmpty &&
      snapshot.keyColumns.nonEmpty && snapshot.bucketBy == snapshot.keyColumns &&
      targetBuckets.exists(_.size == 1)

  override def planInputPartitions(): Array[InputPartition] = {
    // strict matview serving (spark.sql.graft.matviewStrictFreshness):
    // re-prove the view's fingerprint at EXECUTION start, closing the
    // plan-to-execution skew window the default snapshot-at-plan
    // semantics leave open. A mutation committed since planning aborts
    // with an actionable error — a re-run re-plans and either re-proves
    // or falls back to the base scan.
    strictReprove()
    planPartitions()
  }

  /** The strict-freshness re-proof itself, shared by planInputPartitions
    * AND createReaderFactory: Spark plans partitions once per
    * materialized scan, but a CACHED physical plan (plan cache, AQE
    * stage reuse) re-executes through createReaderFactory without
    * re-planning — re-proving in both closes that window too.
    */
  private def strictReprove(): Unit = mvStrict.foreach { mv =>
    if (!MatViews.get(mv).exists(MatViews.isFresh)) {
      throw new IllegalStateException(
        s"materialized view '$mv' went stale between planning and " +
          "execution (strict freshness is on) — re-run the query: a " +
          "fresh plan re-proves the fingerprint or falls back to the " +
          "base table")
    }
  }

  private def planPartitions(): Array[InputPartition] =
    if (snapshot.numBuckets > 0) {
      // one partition per bucket (all buckets, so two co-bucketed scans
      // always align group-for-group in a storage-partitioned join) —
      // unless a key point lookup prunes to specific buckets
      val byBucket = keptWork.groupBy(_.ref.bucketId)
      val wanted = targetBuckets
      val ids = (0 until snapshot.numBuckets).filter(b => wanted.forall(_.contains(b)))
      GraftColumnStore.bucketsPruned.addAndGet(snapshot.numBuckets - ids.size)
      ids.map { b =>
        GraftBucketPartition(b, byBucket.getOrElse(b, Nil).toVector): InputPartition
      }.toArray
    } else {
      // group contiguous batches so partition count tracks the cluster's
      // parallelism, not the batch count — per-task overhead would
      // otherwise dominate small-batch scans
      val target = math.max(1, math.min(keptWork.size,
        org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism))
      if (keptWork.isEmpty) Array.empty
      else keptWork.grouped(math.max(1, (keptWork.size + target - 1) / target))
        .map(ws => GraftBatchGroupPartition(ws.toVector): InputPartition).toArray
    }

  override def outputPartitioning(): Partitioning =
    if (snapshot.numBuckets > 0)
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(snapshot.numBuckets, snapshot.bucketBy: _*)),
        snapshot.numBuckets)
    else new UnknownPartitioning(keptWork.size)

  /** Planning statistics, pushed-filter-aware (the DSv2 contract calls
    * this AFTER pushdown): size/rows count only the batches that survive
    * stats pruning for the pushed predicates — so a selectively-filtered
    * scan that will read one batch reports one batch's bytes, and Spark
    * broadcasts it instead of shuffle-joining on the whole-table size.
    * This is the store-metadata ANALYZE: per-column stats come straight
    * from the batch stats rows + HLL digests the store already keeps
    * (verdict r7 ask #9) — no scan, no ANALYZE command, always current.
    * With `spark.sql.cbo.enabled` Spark folds the column stats into
    * filter/join cardinality estimation (distinct counts from sketches;
    * PK/bucket-key columns report rowCount — unique by construction).
    * All numbers are estimates over LIVE refs (deletes make them upper
    * bounds until compact), exactly the contract CBO expects.
    */
  override def estimateStatistics(): Statistics = {
    val works = keptWork
    val rows = works.foldLeft(0L)(_ + _.ref.numRows)
    val bytes = works.foldLeft(0L)((acc, w) =>
      acc + GraftColumnStore.batches.sizeBytes(w.ref.id))
    val colStats = new java.util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    val snap = snapshot
    required.fieldNames.foreach { fn =>
      val idx = fullSchema.fieldNames.indexOf(fn)
      if (idx >= 0) {
        val dt = fullSchema.fields(idx).dataType
        var nulls = 0L
        var minV: Any = null; var maxV: Any = null
        works.foreach { w =>
          val st = w.ref.stats(idx)
          nulls += st.nullCount
          // expose min/max only when the stored value's runtime type IS
          // the column's Spark type (DECIMAL batches keep unscaled longs,
          // strings keep JVM strings — neither is a catalyst literal)
          def aligned(v: Any): Boolean = (dt, v) match {
            case (org.apache.spark.sql.types.IntegerType, _: java.lang.Integer) => true
            case (org.apache.spark.sql.types.LongType, _: java.lang.Long) => true
            case (org.apache.spark.sql.types.DoubleType, _: java.lang.Double) => true
            case (org.apache.spark.sql.types.FloatType, _: java.lang.Float) => true
            case _ => false
          }
          @inline def cmp(a: Any, b: Any): Int =
            a.asInstanceOf[Comparable[Any]].compareTo(b)
          if (st.min != null && aligned(st.min) &&
              (minV == null || cmp(st.min, minV) < 0)) minV = st.min
          if (st.max != null && aligned(st.max) &&
              (maxV == null || cmp(st.max, maxV) > 0)) maxV = st.max
        }
        val dDistinct: Long =
          if (snap.keyColumns == Seq(fn)) rows // single-column PK: unique rows
          else if (snap.sketchBy.contains(fn)) {
            // union the SURVIVING batches' digests (pruning-aware); a
            // pre-sketch batch (null digest) declines rather than lies.
            // Update-delta digests are skipped here — planning estimates
            // may slightly under-count post-UPDATE distincts until compact.
            val digests = works.map(_.ref.stats(idx).distinctSketch)
            if (works.nonEmpty && digests.forall(_ != null))
              GraftColumnStore.DistinctSketch.estimate(digests.iterator)
            else -1L
          } else -1L
        val dMin = minV; val dMax = maxV; val dNulls = nulls
        colStats.put(Expressions.column(fn),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): OptionalLong =
              if (dDistinct >= 0) OptionalLong.of(dDistinct) else OptionalLong.empty()
            override def min(): java.util.Optional[Object] =
              java.util.Optional.ofNullable(dMin.asInstanceOf[Object])
            override def max(): java.util.Optional[Object] =
              java.util.Optional.ofNullable(dMax.asInstanceOf[Object])
            override def nullCount(): OptionalLong = OptionalLong.of(dNulls)
          })
      }
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(1L, bytes))
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    strictReprove() // cached-plan re-executions skip planInputPartitions
    val f = new GraftReaderFactory(fullSchema, required, tableName, leaseId,
      deletedOnly, updatedMode, sinceDeltas)
    GraftColumnStore.get(tableName).foreach(_.addLeaseOwner(leaseId, f))
    f
  }
}

case class GraftBatchGroupPartition(works: Vector[BatchWork]) extends InputPartition

case class GraftBucketPartition(bucketId: Int, works: Vector[BatchWork])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

class GraftReaderFactory(fullSchema: StructType, required: StructType,
    tableName: String, leaseId: Long,
    deletedOnly: Boolean = false,
    updatedMode: Option[String] = None,
    sinceDeltas: Set[Long] = Set.empty)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("columnar-only source")

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val works = partition match {
      case GraftBatchGroupPartition(ws) => ws
      case GraftBucketPartition(_, ws) => ws
    }
    new PartitionReader[ColumnarBatch] {
      private var idx = -1
      override def next(): Boolean = { idx += 1; idx < works.length }
      override def get(): ColumnarBatch = decode(works(idx))
      // payload release is reachability-driven (LeaseGc): a close-based
      // countdown would free payloads a re-execution of this cached plan
      // (or a sibling partition racing a task retry) still needs
      override def close(): Unit = ()
    }
  }

  /** Decode one batch: stream-decode required columns, overlay update
    * deltas in arrival order, drop deleted rows. `_graft_row_idx` stays
    * the PHYSICAL index so mutation jobs address rows stably across
    * earlier deletes.
    */
  private def decode(w: BatchWork): ColumnarBatch = {
    val batch = GraftColumnStore.batches(w.ref.id)
    val n = w.ref.numRows
    // bitmap payload resolves task-side from the registry; the planned
    // work item carried only the ref
    val dels0 = w.deletes.map(_.bitset).getOrElse(BitSet.empty)
    // deleted-rows maintenance read: INVERT visibility — suppress the
    // live rows, emit the tombstoned ones (a batch with no bitmap has
    // nothing deleted, so everything suppresses). With an exclude
    // bitmap (repeat-delete refresh), rows ALREADY tombstoned at the
    // view's recorded fingerprint suppress too — what remains is
    // exactly the rows deleted SINCE. Update deltas still overlay
    // first: a row updated and later deleted reads back its
    // last-visible values, which is what a subtractive refresh must
    // remove from the summary.
    // updated-rows maintenance read: emit only LIVE rows addressed by
    // an update delta OUTSIDE `sinceDeltas` (i.e. committed since the
    // view's fingerprint), valued as of the recorded delta set ("old")
    // or the current one ("new") — the subtract/add sides of the
    // update refresh. Deltas on ANY column mark the row (an update to
    // one agg input moves the whole tuple's contribution).
    val dels =
      if (deletedOnly) {
        val excl = w.excludeBitmapId match {
          case Some(id) => BitSet.fromBitMaskNoCopy(
            GraftColumnStore.BatchRegistry.bitmapWords(id))
          case None => BitSet.empty
        }
        val b = scala.collection.mutable.BitSet.empty
        var i = 0
        while (i < n) { if (!dels0(i) || excl(i)) b += i; i += 1 }
        scala.collection.immutable.BitSet.fromBitMaskNoCopy(b.toBitMask)
      } else if (updatedMode.isDefined) {
        val addressed = scala.collection.mutable.BitSet.empty
        w.updates.valuesIterator.foreach(_.foreach { dref =>
          if (!sinceDeltas.contains(dref.deltaId)) {
            val d = GraftColumnStore.BatchRegistry.delta(dref.deltaId)
            var k = 0
            while (k < d.rows.length) { addressed += d.rows(k); k += 1 }
          }
        })
        val b = scala.collection.mutable.BitSet.empty
        var i = 0
        while (i < n) { if (dels0(i) || !addressed(i)) b += i; i += 1 }
        scala.collection.immutable.BitSet.fromBitMaskNoCopy(b.toBitMask)
      } else dels0
    val live = n - dels.size
    val vectors: Array[ColumnVector] = required.fields.map { f =>
      val vec = new OnHeapColumnVector(live, f.dataType)
      f.name match {
        case GraftTable.BATCH_ID_COL =>
          var o = 0
          var i = 0
          while (i < n) {
            if (!dels(i)) { vec.putLong(o, w.ref.id); o += 1 }
            i += 1
          }
        case GraftTable.ROW_IDX_COL =>
          var o = 0
          var i = 0
          while (i < n) {
            if (!dels(i)) { vec.putInt(o, i); o += 1 }
            i += 1
          }
        case name =>
          val srcIdx = fullSchema.fieldIndex(name)
          // "old" update read: overlay only the deltas the view's
          // fingerprint RECORDED — the values as of the last refresh
          val updates = {
            val all = w.updates.getOrElse(srcIdx, Vector.empty)
            if (updatedMode.contains("old"))
              all.filter(d => sinceDeltas.contains(d.deltaId))
            else all
          }
          if (updates.isEmpty) {
            // streaming decode, no intermediate materialization
            fillStreaming(vec, f.dataType, batch.columns(srcIdx), dels, live)
          } else {
            val vals = batch.columns(srcIdx).toArray
            updates.foreach { dref =>
              val d = GraftColumnStore.BatchRegistry.delta(dref.deltaId)
              var k = 0
              while (k < d.rows.length) { vals(d.rows(k)) = d.values(k); k += 1 }
            }
            fillStreaming(vec, f.dataType, GraftColumnStore.PlainColumn(vals), dels, live)
          }
      }
      vec: ColumnVector
    }
    new ColumnarBatch(vectors, live)
  }

  /** Binary dictionary for string vectors (Spark's ColumnDictionary has
    * no binary form) — dictionary-encoded store columns surface to the
    * vector as dictionary ids, zero per-row byte copies.
    */
  private class BinaryDictionary(values: Array[Array[Byte]])
      extends org.apache.spark.sql.execution.vectorized.Dictionary {
    override def decodeToBinary(id: Int): Array[Byte] = values(id)
    override def decodeToInt(id: Int): Int = throw new UnsupportedOperationException
    override def decodeToLong(id: Int): Long = throw new UnsupportedOperationException
    override def decodeToFloat(id: Int): Float = throw new UnsupportedOperationException
    override def decodeToDouble(id: Int): Double = throw new UnsupportedOperationException
  }

  /** Stream decoded values into the vector; the type dispatch is hoisted
    * out of the per-value loop and dictionary/run-length STRING columns
    * transfer as dictionary ids instead of copied bytes.
    */
  private def fillStreaming(vec: OnHeapColumnVector, dt: DataType,
      col0: GraftColumnStore.ColumnData, dels: BitSet, live: Int): Unit = {
    import GraftColumnStore.{DictColumn, DoubleColumn, IntColumn, LongColumn, RunLengthColumn}
    val hasDels0 = dels.nonEmpty
    // LZ4 tables: inflate once per (batch, column) so the dispatch below
    // sees the concrete encoding and keeps its bulk/dictionary transfers
    val col = col0.materialized
    col match {
      // primitive columns: bulk transfer when dense, primitive loop else
      case LongColumn(vals, nulls) =>
        if (!hasDels0 && nulls.isEmpty) vec.putLongs(0, vals.length, vals, 0)
        else {
          var i = 0
          var o = 0
          while (i < vals.length) {
            if (!hasDels0 || !dels(i)) {
              if (nulls(i)) vec.putNull(o) else vec.putLong(o, vals(i))
              o += 1
            }
            i += 1
          }
        }
        return
      case DoubleColumn(vals, nulls) =>
        if (!hasDels0 && nulls.isEmpty) vec.putDoubles(0, vals.length, vals, 0)
        else {
          var i = 0
          var o = 0
          while (i < vals.length) {
            if (!hasDels0 || !dels(i)) {
              if (nulls(i)) vec.putNull(o) else vec.putDouble(o, vals(i))
              o += 1
            }
            i += 1
          }
        }
        return
      case IntColumn(vals, nulls) =>
        if (!hasDels0 && nulls.isEmpty) vec.putInts(0, vals.length, vals, 0)
        else {
          var i = 0
          var o = 0
          while (i < vals.length) {
            if (!hasDels0 || !dels(i)) {
              if (nulls(i)) vec.putNull(o) else vec.putInt(o, vals(i))
              o += 1
            }
            i += 1
          }
        }
        return
      case GraftColumnStore.DecimalColumn(vals, nulls, precision, _) =>
        // OnHeapColumnVector stores DECIMAL(p≤9) as ints, (p≤18) as longs
        // — transfer the unscaled values directly, no Decimal boxing
        if (precision <= Decimal.MAX_INT_DIGITS) {
          var i = 0
          var o = 0
          while (i < vals.length) {
            if (!hasDels0 || !dels(i)) {
              if (nulls(i)) vec.putNull(o) else vec.putInt(o, vals(i).toInt)
              o += 1
            }
            i += 1
          }
        } else if (!hasDels0 && nulls.isEmpty) {
          vec.putLongs(0, vals.length, vals, 0)
        } else {
          var i = 0
          var o = 0
          while (i < vals.length) {
            if (!hasDels0 || !dels(i)) {
              if (nulls(i)) vec.putNull(o) else vec.putLong(o, vals(i))
              o += 1
            }
            i += 1
          }
        }
        return
      case _ =>
    }
    if (dt == StringType) col match {
      case DictColumn(dict, codes) =>
        val ids = vec.reserveDictionaryIds(live)
        vec.setDictionary(new BinaryDictionary(
          dict.map(v => if (v == null) null else v.asInstanceOf[UTF8String].getBytes)))
        var i = 0
        var o = 0
        while (i < codes.length) {
          if (!hasDels0 || !dels(i)) {
            val c = codes(i)
            if (c < 0) vec.putNull(o) else ids.putInt(o, c)
            o += 1
          }
          i += 1
        }
        return
      case r: RunLengthColumn =>
        val ids = vec.reserveDictionaryIds(live)
        vec.setDictionary(new BinaryDictionary(
          r.runValues.map(v => if (v == null) null else v.asInstanceOf[UTF8String].getBytes)))
        var run = 0
        var i = 0
        var o = 0
        while (run < r.runValues.length) {
          val end = r.runEnds(run)
          val isNull = r.runValues(run) == null
          while (i < end) {
            if (!hasDels0 || !dels(i)) {
              if (isNull) vec.putNull(o) else ids.putInt(o, run)
              o += 1
            }
            i += 1
          }
          run += 1
        }
        return
      case _ =>
    }
    val put: (Int, Any) => Unit = valueWriter(dt, vec)
    val hasDels = dels.nonEmpty
    var o = 0
    col.foreachValue { (i, v) =>
      if (!hasDels || !dels(i)) {
        if (v == null) vec.putNull(o) else put(o, v)
        o += 1
      }
    }
  }

  /** Recursive internal-value writer into a writable vector — one
    * closure tree per column, built once per batch so the per-value path
    * is dispatch-free. Covers every scalar plus ARRAY / MAP / STRUCT at
    * any nesting depth: array and map writers keep a running element
    * offset in their child vectors and record each row's (offset, len)
    * slice; struct children are row-aligned with the parent. Values are
    * NON-NULL at entry — each container handles its own element/field
    * nulls, the caller the top-level ones.
    */
  private def valueWriter(dt: DataType,
      vec: org.apache.spark.sql.execution.vectorized.WritableColumnVector): (Int, Any) => Unit =
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        (o, v) => vec.putLong(o, v.asInstanceOf[Long])
      case IntegerType | DateType => (o, v) => vec.putInt(o, v.asInstanceOf[Int])
      case DoubleType => (o, v) => vec.putDouble(o, v.asInstanceOf[Double])
      case FloatType => (o, v) => vec.putFloat(o, v.asInstanceOf[Float])
      case BooleanType => (o, v) => vec.putBoolean(o, v.asInstanceOf[Boolean])
      case ByteType => (o, v) => vec.putByte(o, v.asInstanceOf[Byte])
      case ShortType => (o, v) => vec.putShort(o, v.asInstanceOf[Short])
      case StringType | _: CharType | _: VarcharType => (o, v) => {
        val b = v.asInstanceOf[UTF8String].getBytes
        vec.putByteArray(o, b, 0, b.length)
      }
      case BinaryType => (o, v) => {
        val b = v.asInstanceOf[Array[Byte]]
        vec.putByteArray(o, b, 0, b.length)
      }
      case d: DecimalType =>
        (o, v) => vec.putDecimal(o, v.asInstanceOf[Decimal], d.precision)
      case ArrayType(et, _) =>
        val child = vec.arrayData()
        val putElem = valueWriter(et, child)
        var offset = 0
        (o, v) => {
          val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val len = arr.numElements()
          child.reserve(offset + len)
          var j = 0
          while (j < len) {
            if (arr.isNullAt(j)) child.putNull(offset + j)
            else putElem(offset + j, arr.get(j, et))
            j += 1
          }
          vec.putArray(o, offset, len)
          offset += len
        }
      case MapType(kt, vt, _) =>
        val keys = vec.getChild(0)
        val values = vec.getChild(1)
        val putKey = valueWriter(kt, keys)
        val putVal = valueWriter(vt, values)
        var offset = 0
        (o, v) => {
          val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
          val len = m.numElements()
          keys.reserve(offset + len)
          values.reserve(offset + len)
          val ka = m.keyArray()
          val va = m.valueArray()
          var j = 0
          while (j < len) {
            putKey(offset + j, ka.get(j, kt)) // map keys are never null
            if (va.isNullAt(j)) values.putNull(offset + j)
            else putVal(offset + j, va.get(j, vt))
            j += 1
          }
          vec.putArray(o, offset, len)
          offset += len
        }
      case st: StructType =>
        val fieldTypes = st.fields.map(_.dataType)
        val putFields = fieldTypes.zipWithIndex.map { case (ft, k) =>
          valueWriter(ft, vec.getChild(k))
        }
        (o, v) => {
          val row = v.asInstanceOf[InternalRow]
          var k = 0
          while (k < putFields.length) {
            if (row.isNullAt(k)) vec.getChild(k).putNull(o)
            else putFields(k)(o, row.get(k, fieldTypes(k)))
            k += 1
          }
          vec.putNotNull(o)
        }
      case other => throw new UnsupportedOperationException(s"graftstore type: $other")
    }
}

/** Batch skipping: a batch survives unless its stats PROVE no row can
  * satisfy some pushed conjunct (reference ColumnTableScan stats filter).
  * Columns in `unprunable` (they carry update deltas, so sealed stats are
  * stale) never prune.
  */
object BatchPruning {
  import GraftColumnStore.{compare, ColumnStats}

  def mightMatch(stats: Array[ColumnStats], numRows: Int, schema: StructType,
      filters: Array[Filter], unprunable: Set[String] = Set.empty): Boolean =
    filters.forall(f => mightMatchOne(stats, numRows, schema, f, unprunable))

  private def statsFor(stats: Array[ColumnStats], schema: StructType,
      col: String): Option[(ColumnStats, DataType)] = {
    val idx = schema.fieldNames.indexOf(col)
    if (idx < 0) None else Some((stats(idx), schema.fields(idx).dataType))
  }

  /** External (Filter) value → internal stats value. */
  private[store] def internal(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (TimestampType | TimestampNTZType, t: java.sql.Timestamp) =>
      Some(DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType | TimestampNTZType, t: java.time.Instant) =>
      Some(DateTimeUtils.instantToMicros(t))
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some(DateTimeUtils.localDateTimeToMicros(t))
    case (DateType, d: java.sql.Date) => Some(DateTimeUtils.fromJavaDate(d))
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toInt)
    case (LongType, n: Number) => Some(n.longValue())
    case (IntegerType, n: Number) => Some(n.intValue())
    case (ShortType, n: Number) => Some(n.shortValue())
    case (ByteType, n: Number) => Some(n.byteValue())
    case (DoubleType, n: Number) => Some(n.doubleValue())
    case (FloatType, n: Number) => Some(n.floatValue())
    case (BooleanType, bb: java.lang.Boolean) => Some(bb.booleanValue())
    case (_: DecimalType, d: java.math.BigDecimal) => Some(Decimal(d))
    case (_: DecimalType, d: BigDecimal) => Some(Decimal(d))
    case _ => None
  }

  private def mightMatchOne(stats: Array[ColumnStats], numRows: Int,
      schema: StructType, f: Filter, unprunable: Set[String]): Boolean = f match {
    case EqualTo(c, v) => check(stats, numRows, schema, c, v, unprunable) { (dt, st, iv) =>
      (st.min == null ||
        (compare(dt, iv, st.min) >= 0 && compare(dt, iv, st.max) <= 0)) &&
        // string value digest: literal bits absent ⇒ value provably not
        // in this batch, even inside [min, max] (the dictionary-
        // membership prune — see ColumnStats.valueBloom)
        (dt != StringType || st.valueBloom == 0L || {
          val bits = GraftColumnStore.bloomBits(iv)
          (st.valueBloom & bits) == bits
        })
    }
    case GreaterThan(c, v) => check(stats, numRows, schema, c, v, unprunable) { (dt, st, iv) =>
      st.max == null || compare(dt, st.max, iv) > 0
    }
    case GreaterThanOrEqual(c, v) => check(stats, numRows, schema, c, v, unprunable) { (dt, st, iv) =>
      st.max == null || compare(dt, st.max, iv) >= 0
    }
    case LessThan(c, v) => check(stats, numRows, schema, c, v, unprunable) { (dt, st, iv) =>
      st.min == null || compare(dt, st.min, iv) < 0
    }
    case LessThanOrEqual(c, v) => check(stats, numRows, schema, c, v, unprunable) { (dt, st, iv) =>
      st.min == null || compare(dt, st.min, iv) <= 0
    }
    case IsNull(c) => unprunable(c) ||
      statsFor(stats, schema, c).forall(_._1.nullCount > 0)
    case IsNotNull(c) => unprunable(c) ||
      statsFor(stats, schema, c).forall(_._1.nullCount < numRows)
    case And(l, r) => mightMatchOne(stats, numRows, schema, l, unprunable) &&
      mightMatchOne(stats, numRows, schema, r, unprunable)
    case Or(l, r) => mightMatchOne(stats, numRows, schema, l, unprunable) ||
      mightMatchOne(stats, numRows, schema, r, unprunable)
    case In(c, vs) if vs.length <= 256 => // cap: huge runtime IN-lists aren't worth per-batch checks
      vs.exists(v => mightMatchOne(stats, numRows, schema, EqualTo(c, v), unprunable))
    case _ => true // unknown predicate: cannot prune
  }

  private def check(stats: Array[ColumnStats], numRows: Int, schema: StructType,
      c: String, v: Any, unprunable: Set[String])(
      p: (DataType, ColumnStats, Any) => Boolean): Boolean =
    if (unprunable(c)) true
    else statsFor(stats, schema, c) match {
      case Some((st, dt)) => internal(dt, v) match {
        case Some(iv) => st.nullCount == numRows || p(dt, st, iv)
        case None => true
      }
      case None => true
    }

  /** Fraction of the snapshot's batches whose `colName` stats CANNOT
    * intersect the EXTERNAL value range [lo, hi] — a driver-metadata
    * prunability probe (the matview partial-path demotion heuristic
    * asks it whether a touched-keys restriction would let the scan skip
    * anything). None when nothing can be PROVEN — no stats, or values
    * that don't convert — which the caller must treat as "do not
    * demote", never as "proven unprunable".
    */
  def prunableFraction(snap: GraftColumnStore.TableSnapshot, colName: String,
      lo: Any, hi: Any): Option[Double] = {
    val idx = snap.schema.fieldNames.indexOf(colName)
    if (idx < 0 || snap.refs.isEmpty) return None
    val dt = snap.schema.fields(idx).dataType
    (internal(dt, lo), internal(dt, hi)) match {
      case (Some(l), Some(h)) =>
        val overlapping = snap.refs.count { r =>
          val st = r.stats(idx)
          st.min == null || // all-null / absent stats: must be read
            (compare(dt, st.max, l) >= 0 && compare(dt, st.min, h) <= 0)
        }
        Some(1.0 - overlapping.toDouble / snap.refs.size)
      case _ => None
    }
  }

  /** Per-KEY variant of [[prunableFraction]]: the fraction of batches
    * that provably contain NONE of `keys` (EXTERNAL values) — the same
    * power the scan's realized runtime filter has (range check per key
    * PLUS the string dictionary-membership bloom), so unlike the bounds
    * probe it cannot mispredict when a small key set STRADDLES the
    * column's range on a clustered layout. None when any key fails to
    * convert. Caller bounds |keys| (the probe is O(batches × keys) on
    * the driver).
    */
  def prunableFractionKeys(snap: GraftColumnStore.TableSnapshot,
      colName: String, keys: Seq[Any]): Option[Double] = {
    val idx = snap.schema.fieldNames.indexOf(colName)
    if (idx < 0 || snap.refs.isEmpty || keys.isEmpty) return None
    val dt = snap.schema.fields(idx).dataType
    val ivs = keys.map(internal(dt, _))
    if (ivs.exists(_.isEmpty)) return None
    val vals = ivs.flatten
    val blooms = if (dt == StringType)
      vals.map(v => GraftColumnStore.bloomBits(v)) else Nil
    val overlapping = snap.refs.count { r =>
      val st = r.stats(idx)
      st.min == null || vals.zipWithIndex.exists { case (v, i) =>
        compare(dt, v, st.min) >= 0 && compare(dt, v, st.max) <= 0 &&
          (dt != StringType || st.valueBloom == 0L ||
            (st.valueBloom & blooms(i)) == blooms(i))
      }
    }
    Some(1.0 - overlapping.toDouble / snap.refs.size)
  }
}

// ------------------------------- write path ------------------------------

class GraftWriteBuilder(tableName: String, writeSchema: StructType, batchSize: Int,
    bucketBy: Seq[String], numBuckets: Int, keyColumns: Seq[String],
    sortBy: Seq[String] = Nil, compression: String = "none",
    evictionBudget: Long = 0L, stagedToken: String = "",
    sketchBy: Seq[String] = Nil, expireSeconds: Long = 0L)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution =
      if (bucketBy.nonEmpty && numBuckets > 0)
        Distributions.clustered(bucketBy.map(c => Expressions.column(c)).toArray)
      else Distributions.unspecified()
    override def requiredNumPartitions(): Int =
      if (bucketBy.nonEmpty && numBuckets > 0) numBuckets else 0
    // index clustering: Spark sorts each writer partition on the index
    // columns, so every sealed batch covers a narrow key range and the
    // scan's min/max skipping becomes the index probe
    override def requiredOrdering(): Array[SortOrder] =
      sortBy.map(c => Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
    override def toBatch: BatchWrite =
      new GraftBatchWrite(tableName, writeSchema, batchSize, doTruncate,
        bucketBy, numBuckets, keyColumns, sortBy, compression, evictionBudget,
        stagedToken, sketchBy, expireSeconds)
  }
}

class GraftBatchWrite(tableName: String, schema: StructType, batchSize: Int,
    truncate: Boolean, bucketBy: Seq[String], numBuckets: Int, keyColumns: Seq[String],
    sortBy: Seq[String] = Nil, compression: String = "none",
    evictionBudget: Long = 0L, stagedToken: String = "",
    sketchBy: Seq[String] = Nil, expireSeconds: Long = 0L)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(schema, batchSize, bucketBy.nonEmpty && numBuckets > 0,
      compression == "lz4", sketchBy)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // metadata-only commit: refs land in the snapshot, payloads are
    // already resident where the tasks wrote them
    val table = GraftColumnStore.getOrCreate(tableName, schema, bucketBy, numBuckets, keyColumns)
    val newRefs = messages.flatMap {
      case GraftCommit(refs) => refs
      case _ => Nil
    }.toVector
    if (truncate) {
      // ONE atomic swap: old refs out, new refs + layout metadata in —
      // a reader planning concurrently sees either the full old table
      // or the full new one, never the empty intermediate a separate
      // replace-then-append pair would expose (compact() depends on
      // this to be a safe online rewrite)
      // schema AND layout travel with the swap: an ALTER-style rewrite
      // commits its new shape, its (possibly renamed) key/bucket
      // columns, and its new refs in ONE transition (readers see
      // full-old or full-new, never a mixed state — and the table
      // never leaves the registry, unlike a drop-then-recreate)
      table.replaceRefs(newRefs, _.copy(schema = schema, bucketBy = bucketBy,
        numBuckets = numBuckets, keyColumns = keyColumns,
        sortedBy = sortBy, batchSize = batchSize, compression = compression,
        evictionBudget = evictionBudget, zorderedBy = Nil,
        sketchBy = sketchBy, expireSeconds = expireSeconds))
    } else {
      // record the codec as table layout metadata (first write to a fresh
      // table appends — without this a later compact() would resolve the
      // existing snapshot's default and silently stop compressing)
      if (table.snapshot.compression != compression ||
          table.snapshot.evictionBudget != evictionBudget ||
          table.snapshot.sketchBy != sketchBy ||
          table.snapshot.expireSeconds != expireSeconds) {
        table.mutate(_.copy(compression = compression,
          evictionBudget = evictionBudget, sketchBy = sketchBy,
          expireSeconds = expireSeconds))
      }
      // an upsert staged matched-key deletes for THIS append (token-
      // keyed, so a concurrent upsert's staged set is untouched): apply
      // them and the new refs in ONE swap (atomic PUT INTO)
      (if (stagedToken.nonEmpty) GraftColumnStore.takeStagedDeletes(stagedToken)
      else None) match {
        case Some(staged) => table.applyDeletes(staged, newRefs)
        case None => table.appendRefs(newRefs)
      }
    }
    // EXPIRE: reclaim batches whose TTL passed, then the heap pool:
    // spill past-budget batches to the disk tier now that the snapshot
    // carries the new refs (the table's own budget held at every swap)
    table.expireSweep()
    GraftColumnStore.enforceHeapPool(tableName)
    // row-buffer roll-up (the reference's always-on behavior): when any
    // bucket accumulates >= threshold small seals, merge them now — the
    // streaming foreachBatch ingest loop is the shape that otherwise
    // grows unbounded per-bucket tails of tiny batches. The table-level
    // policy (rollup_threshold CREATE option) wins over the session
    // conf; both default off for bulk loads (PERF_NOTES §23).
    val tableThr = GraftColumnStore.rollupThreshold(tableName)
    val rollupThr = if (tableThr > 0) tableThr
    else org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.graft.rollupThreshold", "0").toInt
    if (rollupThr > 0) {
      val needs = GraftColumnStore.get(tableName).exists(
        _.snapshot.liveRefs.filter(_.isDelta)
          .groupBy(_.bucketId).values.exists(_.size >= rollupThr))
      if (needs) GraftStoreOps.rollupSmallBatches(
        org.apache.spark.sql.SparkSession.active, tableName, rollupThr)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftColumnStore.batches.release(
      messages.flatMap { case GraftCommit(refs) => refs.map(_.id); case _ => Nil })
}

case class GraftCommit(refs: Seq[GraftColumnStore.BatchRef])
    extends WriterCommitMessage

class GraftWriterFactory(schema: StructType, batchSize: Int, bucketed: Boolean,
    compress: Boolean = false, sketchBy: Seq[String] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // bucketed writes demanded numPartitions == numBuckets, so the
      // Spark partition id IS the bucket id
      private val builder = new GraftColumnStore.BatchBuilder(
        schema, batchSize, if (bucketed) partitionId else -1, compress, sketchBy)
      override def write(record: InternalRow): Unit = builder.add(record)
      override def commit(): WriterCommitMessage = GraftCommit(builder.result())
      override def abort(): Unit = builder.abort()
      override def close(): Unit = ()
    }
}
