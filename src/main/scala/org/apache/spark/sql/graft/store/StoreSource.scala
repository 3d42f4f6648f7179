package org.apache.spark.sql.graft.store

import java.util

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** The DSv2 face of both stores, written once: the format provider, the
  * table, its write and the write's commit. Each store supplies its scan
  * builder and writer factory here, and its layout and commit hooks
  * through [[StoreOps]].
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
