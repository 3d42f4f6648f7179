package org.apache.spark.sql.graft.store

import java.util
import java.util.OptionalLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** The DSv2 face of both stores, written once: the format provider, the
  * table, its write and the write's commit, and the scan skeleton (the
  * pinned snapshot, filter and column pushdown, bucket targeting, the
  * bucket-grouped partitioning and runtime-filter intake). Each store
  * supplies its partition planning, readers and writer factory here, and
  * its layout and commit hooks through [[StoreOps]].
  */
abstract class StoreSource(ops: StoreOps[_, _, _]) extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ops.schema(options.get("table"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    ops.table(properties.get("table"), schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

object StoreTable {
  /** The physical row index within a payload, in both stores. */
  val ROW_IDX_COL = "_graft_row_idx"

  private def metadataColumn(n: String, t: DataType): MetadataColumn = new MetadataColumn {
    override def name(): String = n
    override def dataType(): DataType = t
    override def isNullable: Boolean = false
  }
}

/** A store table over one resolved layout (the shared [[BaseLayout]]
  * plus the store's own `O`): batch read, write and truncate, the bucket
  * transform as its partitioning (resolved through [[GraftCatalog]]'s
  * bucket function), and the hidden metadata columns addressing
  * physical rows for distributed UPDATE/DELETE/PUT.
  */
abstract class StoreTable[O](ops: StoreOps[_, _, O], val storeName: String,
    tableSchema: StructType, val base: BaseLayout, val own: O)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns {

  override def name(): String = s"${ops.kind}.$storeName"
  override def schema(): StructType = tableSchema
  /** Layout surfaced to `DESCRIBE TABLE EXTENDED graft.t` (Table
    * Properties section): the manifest's entries, minus unset ones.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    ops.entries(base, own).foreach { case (k, v) =>
      if (v.nonEmpty && v != "0") m.put(k, v)
    }
    m
  }
  override def partitioning(): Array[Transform] =
    if (base.bucketed) Array(Expressions.bucket(base.numBuckets, base.bucketBy: _*))
    else Array.empty
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def metadataColumns(): Array[MetadataColumn] = Array(
    StoreTable.metadataColumn(ops.addressColumn, LongType),
    StoreTable.metadataColumn(StoreTable.ROW_IDX_COL, IntegerType))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // read replicas refuse DSv2 writes too (INSERT INTO graft.t /
    // df.write.format(store)) — the session guard alone cannot see
    // these paths. Checked at plan time so the user gets the refusal
    // before any task launches. Restore/re-attach drops the table
    // first, which clears the flag, so those internal writes pass.
    ReplicaGuard.requireWritable(storeName, "write")
    // matview backing tables are engine-maintained the same way —
    // refresh/rebuild passes via the maintenance scope
    MatViews.guardWrite(storeName)
    new StoreWriteBuilder(this, info)
  }

  /** The writer tasks of a write of `writeSchema`. */
  private[store] def writerFactory(writeSchema: StructType, truncate: Boolean): DataWriterFactory
  /** Columns an unbucketed write clusters on (the row store's keys, so
    * one task sees every copy of a key).
    */
  private[store] def clusterBy: Seq[String] = Nil
  /** Columns each writer partition sorts on (the column store's index
    * clustering).
    */
  private[store] def sortBy: Seq[String] = Nil

  private[store] def commit(writeSchema: StructType, refs: Seq[PayloadRef],
      truncate: Boolean, options: CaseInsensitiveStringMap): Unit =
    ops.commitWrite(storeName, writeSchema, base, own, refs, truncate, options)
  private[store] def abort(refs: Seq[PayloadRef]): Unit = ops.release(refs)
}

/** The write of both stores. Bucketed writes REQUIRE a clustered
  * distribution on the bucket columns with exactly `buckets` partitions,
  * so Spark routes rows before they reach the writer and writer
  * partition id == bucket id.
  */
private[store] final class StoreWriteBuilder(table: StoreTable[_], info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    private val clustering = if (table.base.bucketed) table.base.bucketBy else table.clusterBy
    override def requiredDistribution(): Distribution =
      if (clustering.isEmpty) Distributions.unspecified()
      else Distributions.clustered(clustering.map(c => Expressions.column(c)).toArray)
    override def requiredNumPartitions(): Int =
      if (table.base.bucketed) table.base.numBuckets else 0
    override def requiredOrdering(): Array[SortOrder] =
      table.sortBy.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
    override def toBatch: BatchWrite =
      new StoreBatchWrite(table, info.schema(), doTruncate, info.options())
  }
}

private[store] final class StoreBatchWrite(table: StoreTable[_], schema: StructType,
    truncate: Boolean, options: CaseInsensitiveStringMap) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    table.writerFactory(schema, truncate)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    table.commit(schema, refs(messages), truncate, options)
  override def abort(messages: Array[WriterCommitMessage]): Unit = table.abort(refs(messages))

  private def refs(messages: Array[WriterCommitMessage]): Seq[PayloadRef] =
    messages.toSeq.flatMap { case StoreCommit(refs) => refs; case _ => Nil }
}

/** A writer task's commit message: the refs of the payloads it placed —
  * ids and stats, never data.
  */
final case class StoreCommit(refs: Seq[PayloadRef]) extends WriterCommitMessage

// ------------------------------- read path -------------------------------

/** The scan builder of both stores. Every filter is pushed and every
  * filter stays residual: stats, buckets and index probes only narrow
  * what is read, so Spark still evaluates each one exactly. Column
  * pruning is top-level only: payloads hold whole container values, so a
  * nested-pruned struct saves no store reads but would misalign the
  * readers, which read stored values by full type. The full column type
  * is reported and Spark projects the nested fields above (the v2
  * pushdown rule rebuilds the relation output from the scan's
  * readSchema).
  */
abstract class StoreScanBuilder(fullSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  protected var pushed: Array[Filter] = Array.empty
  protected var required: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map { f =>
      if (fullSchema.fieldNames.contains(f.name)) fullSchema(f.name) else f
    })
}

/** A scan over one snapshot of a store table, pinned on first use
  * together with a reader lease (see [[LeaseGc]]): the payloads it
  * references survive concurrent mutations while the scan or its reader
  * factory is reachable. If the plan is discarded without running, the
  * Cleaner drops the lease once both are unreachable. The pushed
  * aggregate scan is one of these; table scans are [[StoreScan]]s.
  */
abstract class PinnedScan[S <: TableState[S, R], R <: PayloadRef](
    ops: StoreOps[S, R, _], val table: String) extends Scan with Batch {

  private lazy val pinned: (SnapshotTable[S, R], S, Long) = {
    val t = ops.handle(table)
    val (snap, lease) = t.pinSnapshot()
    t.addLeaseOwner(lease, this)
    (t, snap, lease)
  }
  protected final def snapshot: S = pinned._2

  /** `factory`, registered on the pinned table as a second owner of this
    * scan's lease.
    */
  protected final def leased(factory: PartitionReaderFactory): PartitionReaderFactory = {
    val (t, _, lease) = pinned
    t.addLeaseOwner(lease, factory)
    factory
  }

  /** `units` in contiguous groups, as many as the cluster's parallelism:
    * per-task overhead would otherwise dominate small-payload scans.
    */
  protected final def grouped[W](units: Seq[W])(
      part: Seq[W] => InputPartition): Array[InputPartition] =
    if (units.isEmpty) Array.empty
    else {
      val target = math.max(1, math.min(units.size,
        SparkSession.active.sparkContext.defaultParallelism))
      units.grouped((units.size + target - 1) / target).map(part).toArray
    }

  /** What the scan reads, after the table name in its description. */
  protected def detail: String
  override def toBatch: Batch = this
  override def description(): String = s"${ops.kind}.$table $detail"
}

/** The table scan of both stores: bucket targeting, the key-lookup
  * classification, the bucket-grouped output partitioning and
  * runtime-filter intake, over the pinned snapshot. The store plans the
  * partitions, reads them and estimates their statistics.
  *
  * The statically pushed filters decide the scan's shape once: whether
  * it is a key lookup, the row store's probe or range read, and the
  * reported partitioning. Runtime (dynamic-partition-pruning) filters,
  * the realized join keys of a broadcast side, only narrow what is
  * planned inside that shape (buckets, plus the column store's batches),
  * so the partitioning Spark planned the join on still holds after they
  * arrive (the reference's join pushdown into bucket regions).
  */
abstract class StoreScan[S <: TableState[S, R], R <: PayloadRef](ops: StoreOps[S, R, _],
    table: String, fullSchema: StructType, required: StructType, pushed: Array[Filter])
    extends PinnedScan[S, R](ops, table) with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeFiltering {

  @volatile private var runtime: Array[Filter] = Array.empty

  /** Read-schema columns a runtime filter narrows this scan on; empty
    * keeps Spark from planning a pruning subquery the scan cannot use.
    */
  protected def runtimeFilterColumns: Seq[String]
  /** Whether the pushed filters make this scan a bounded key lookup. */
  protected def keyLookup: Boolean
  /** False when the store plans the scan other than one partition per
    * bucket (the row store's probe and range reads).
    */
  protected def bucketGrouped: Boolean = true

  /** The scan reads one bucket or one probe's rows of the live table;
    * [[LocalLookups]] answers it on the calling thread.
    */
  final lazy val isKeyLookup: Boolean = keyLookup

  override def filterAttributes(): Array[NamedReference] =
    runtimeFilterColumns.map(c => Expressions.column(c): NamedReference).toArray
  override def filter(filters: Array[Filter]): Unit = runtime = filters
  /** The runtime filters received so far (a new array per arrival). */
  protected final def runtimeFilters: Array[Filter] = runtime
  protected final def filters: Array[Filter] = pushed ++ runtime

  override def readSchema(): StructType = required
  protected def detail: String =
    s"pushed=[${filters.mkString(", ")}] cols=[${required.fieldNames.mkString(",")}]"

  private def bucketsFor(fs: Array[Filter]): Option[Set[Int]] =
    BucketRouting.targetBuckets(fs, snapshot.bucketBy, snapshot.numBuckets, fullSchema)
  /** Buckets the pushed filters can match; None = all. */
  protected final lazy val pushedBuckets: Option[Set[Int]] = bucketsFor(pushed)

  /** One partition per bucket the pushed and runtime filters can match,
    * of the `units` `bucketOf` places there. Unpinned, that is every
    * bucket, so two co-bucketed scans align group for group in a
    * storage-partitioned join.
    */
  protected final def bucketPartitions[W](units: Seq[W], bucketOf: W => Int)(
      part: (Int, Seq[W]) => BucketPartition): Array[InputPartition] = {
    val wanted = if (runtime.isEmpty) pushedBuckets else bucketsFor(filters)
    val byBucket = units.groupBy(bucketOf)
    (0 until snapshot.numBuckets).filter(b => wanted.forall(_.contains(b)))
      .map(b => part(b, byBucket.getOrElse(b, Nil)): InputPartition).toArray
  }

  override def outputPartitioning(): Partitioning =
    if (snapshot.numBuckets > 0 && bucketGrouped)
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(snapshot.numBuckets, snapshot.bucketBy: _*)),
        snapshot.numBuckets)
    else new UnknownPartitioning(0)
}

object StoreScan {
  /** Planning statistics: `rows` rows in `bytes` bytes (at least 1). */
  def statistics(rows: Long, bytes: Long,
      columns: util.Map[NamedReference, ColumnStatistics] = new util.HashMap()): Statistics =
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(1L, bytes))
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): util.Map[NamedReference, ColumnStatistics] = columns
    }
}

/** A partition of one bucket's payloads; its bucket id is its key in the
  * reported `KeyGroupedPartitioning`.
  */
trait BucketPartition extends InputPartition with HasPartitionKey {
  def bucketId: Int
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](bucketId))
}

/** A partition reader over an iterator. Payload release is
  * reachability-driven (LeaseGc): a close-based countdown would free
  * payloads a re-execution of a cached plan (or a sibling partition
  * racing a task retry) still needs, so closing does nothing.
  */
final class IteratorReader[T](it: Iterator[T]) extends PartitionReader[T] {
  private var current: T = _
  override def next(): Boolean = {
    val h = it.hasNext
    if (h) current = it.next()
    h
  }
  override def get(): T = current
  override def close(): Unit = ()
}
