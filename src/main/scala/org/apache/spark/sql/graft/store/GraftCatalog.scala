package org.apache.spark.sql.graft.store

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{BucketTransform, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DSv2 catalog for graftstore tables (`spark.sql.catalog.graft =
  * ...GraftCatalog`): `spark.table("graft.t")`, `INSERT INTO graft.t`,
  * `CREATE TABLE graft.t ... PARTITIONED BY (bucket(n, col))` all route
  * here.
  *
  * The catalog is what makes the scan's bucket-grouped partitioning
  * REAL to the planner: Spark resolves the scan-reported
  * `bucket(n, cols)` transform through this catalog's FunctionCatalog,
  * and two graftstore scans with the same bucket function + count become
  * a storage-partitioned join — the reference's exchange-free colocated
  * join (ExistingPlans.scala:49 outputPartitioning contract) on stock
  * Spark machinery.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private def tableName(ident: Identifier): String = ident.name().toLowerCase

  override def listTables(namespace: Array[String]): Array[Identifier] =
    StoreOps.all.flatMap(_.tableNames).map(n => Identifier.of(Array.empty, n)).toArray

  // the snapshot is the layout: no option parsing on this per-statement path
  override def loadTable(ident: Identifier): Table = {
    val nm = tableName(ident)
    StoreOps.all.iterator.flatMap(_.loadTable(nm)).nextOption().getOrElse(
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name()))
  }

  /** CREATE TABLE graft.t [USING row] [PARTITIONED BY (bucket(n, cols))]
    * [TBLPROPERTIES/OPTIONS (layout)]: `USING row` makes a row table, any
    * other provider a column table; the properties are the same layout
    * options a format write takes, resolved and validated by the store
    * before it registers the table with the whole layout.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val nm = tableName(ident)
    // TableCatalog contract: plain CREATE TABLE on an existing table must
    // fail — silently replacing would destroy its data (Spark routes
    // CREATE OR REPLACE / IF NOT EXISTS decisions above this call)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.namespace().toSeq :+ ident.name())
    // an explicit CREATE supersedes replica status (same rule as the
    // session face): after attachView — which marks the name a replica
    // WITHOUT creating a store table — a DSv2 CREATE must not inherit a
    // stale read-only flag that would refuse every subsequent write
    ReplicaGuard.clear(nm)
    MatViews.unregister(nm) // explicit CREATE supersedes matview status too
    // ... and a dropped table's constraints: a re-created name must not
    // route its INSERTs through the old CHECKs
    org.apache.spark.sql.graft.Constraints.drop(nm)
    val props = properties.asScala.toMap
    val declared: Option[(Seq[String], Int)] = partitions.toSeq match {
      case Seq(BucketTransform(n, cols, Nil)) => Some((cols.map(_.fieldNames.mkString(".")), n))
      case Seq() => None
      case other =>
        throw new UnsupportedOperationException(
          s"graftstore supports only bucket(n, cols) partitioning, got: ${other.mkString(",")}")
    }
    // COLOCATE_WITH: the same rule as the SQL DDL route
    val bucketing = props.get("colocate_with").map(_.trim.toLowerCase) match {
      case Some(target) => Some(StoreOps.colocateWith(s"CREATE TABLE $nm", target,
        schema, declared.map(_._1).getOrElse(Nil), declared.map(_._2)))
      case None => declared
    }
    val options = props ++ bucketing.map { case (by, n) =>
      Map("partition_by" -> by.mkString(","), "buckets" -> n.toString)
    }.getOrElse(Map.empty)
    StoreOps.forProvider(props.get(TableCatalog.PROP_PROVIDER)).createTable(nm, schema, options)
  }

  /** ALTER TABLE graft.t through plain Spark SQL (reference
    * execution/ddl.scala:226,246): ADD COLUMNS / DROP COLUMN / RENAME
    * COLUMN / ALTER COLUMN TYPE fold into ONE layout-preserving rewrite
    * (codec/TTL/sketch/buckets survive, and key/bucket/index metadata
    * FOLLOWS a renamed column — see [[GraftStoreOps.alterRewrite]]);
    * SET/UNSET TBLPROPERTIES routes to the metadata-only
    * [[StoreOps.alterProperties]] (live retention/eviction/codec
    * tuning, no rewrite). Unsupported shapes (NOT NULL adds, positioned
    * adds, nested fields, arbitrary properties) are rejected loudly
    * rather than silently dropped.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val nm = tableName(ident)
    // ALTER rewrites the replica's data/layout locally — same silent
    // divergence as a write, refused at the store level
    ReplicaGuard.requireWritable(nm, "alterTable")
    MatViews.guardWrite(nm)
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.functions.{col, lit}
    def topLevel(path: Array[String], what: String): String = {
      if (path.length != 1) throw new UnsupportedOperationException(
        s"graftstore: nested $what not supported: ${path.mkString(".")}")
      path.head
    }
    var renames = Map.empty[String, String]
    var dataChange = false
    var setProps = Map.empty[String, String]
    var unsetProps = List.empty[String]
    val transform = changes.foldLeft(
      identity[org.apache.spark.sql.DataFrame] _) { (acc, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          val c = topLevel(add.fieldNames(), "ADD COLUMN")
          // reject what the rewrite cannot honor rather than silently
          // dropping the user's constraint/placement
          if (!add.isNullable) throw new UnsupportedOperationException(
            s"graftstore: ADD COLUMN $c NOT NULL not supported (new rows are null-filled)")
          if (add.position() != null) throw new UnsupportedOperationException(
            s"graftstore: ADD COLUMN $c with a position is not supported (appends at the end)")
          dataChange = true
          df => acc(df).withColumn(c, lit(null).cast(add.dataType()))
        case del: TableChange.DeleteColumn =>
          val c = topLevel(del.fieldNames(), "DROP COLUMN")
          dataChange = true
          df => acc(df).drop(c)
        case ren: TableChange.RenameColumn =>
          val c = topLevel(ren.fieldNames(), "RENAME COLUMN")
          val to = ren.newName()
          dataChange = true
          renames += c.toLowerCase -> to
          df => {
            val d = acc(df)
            require(!d.columns.exists(_.equalsIgnoreCase(to)),
              s"graftstore: RENAME COLUMN $c TO $to: target column exists")
            d.withColumnRenamed(c, to)
          }
        case ut: TableChange.UpdateColumnType =>
          val c = topLevel(ut.fieldNames(), "ALTER COLUMN TYPE")
          dataChange = true
          // ANSI cast: an unrepresentable value fails the rewrite job
          // BEFORE the commit, so the table is left untouched
          df => acc(df).withColumn(c, col(c).cast(ut.newDataType()))
        case un: TableChange.UpdateColumnNullability =>
          val c = topLevel(un.fieldNames(), "ALTER COLUMN NULL")
          if (!un.nullable()) throw new UnsupportedOperationException(
            s"graftstore: ALTER COLUMN $c SET NOT NULL not supported " +
              "(the store does not enforce NOT NULL)")
          acc // relaxing to nullable is a no-op: store columns are nullable
        case sp: TableChange.SetProperty =>
          setProps += sp.property() -> sp.value(); acc
        case rp: TableChange.RemoveProperty =>
          unsetProps ::= rp.property(); acc
        case other => throw new UnsupportedOperationException(
          s"graftstore: ALTER TABLE change not supported: $other")
      }
    }
    if (StoreOps.forTable(nm).isEmpty)
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    if (dataChange) StoreOps(nm).alterRewrite(spark, nm, transform, renames)
    // SET/UNSET TBLPROPERTIES: metadata-only tunables, no rewrite
    if (setProps.nonEmpty || unsetProps.nonEmpty)
      StoreOps(nm).alterProperties(spark, nm, setProps, unsetProps)
    // the session's temp view over this table must re-resolve, or it
    // keeps planning the pre-ALTER relation/schema
    graft.GraftSession(spark).refreshManaged(nm)
    loadTable(ident)
  }

  /** DROP TABLE graft.t runs the session teardown — FK restrict,
    * constraints, ANN indexes, matviews, samples, the replica flag and
    * the diskstore binding go with the store table, exactly as on the
    * session face.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val nm = tableName(ident)
    val existed = StoreOps.forTable(nm).isDefined
    if (existed)
      graft.GraftSession(org.apache.spark.sql.SparkSession.active).dropTable(nm)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graftstore: RENAME not supported")

  override def tableExists(ident: Identifier): Boolean =
    StoreOps.forTable(tableName(ident)).isDefined

  // ---- namespaces: single flat default namespace ----
  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespace.isEmpty || namespace.sameElements(Array("default")))
      Map.empty[String, String].asJava
    else throw new IllegalArgumentException(s"no such namespace: ${namespace.mkString(".")}")
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graftstore: flat namespace")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graftstore: flat namespace")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = false

  // ---- functions: the bucket transform ----
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
}

/** How a session's own relations relate to the graft catalog's tables. */
object GraftCatalog {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.analysis.V2TableReference
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  /** The relation `spark` resolves bare name `n` to on its own — a temp
    * view (its stored plan, so no analysis) or a session-catalog table —
    * with alias and view wrappers stripped; None when it has none. A
    * relation of the session's own that no longer resolves is still its
    * own (an empty relation here, unrelated to any store table).
    */
  def ownRelation(spark: SparkSession, n: String): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, SubqueryAlias, View}
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: SubqueryAlias => strip(s.child)
      case v: View => strip(v.child)
      case other => other
    }
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.catalog.getRawTempView(n).flatMap(_.plan).orElse {
      if (!spark.catalog.tableExists(n)) None
      else Some(scala.util.Try(classic.table(n).queryExecution.analyzed)
        .getOrElse(LocalRelation()))
    }.map(strip)
  }

  /** `p` as a scan of graft store table `n` itself, when it is one: the
    * store relation, or the reference a temp view keeps to a catalog
    * table (`graft.n`, re-resolved at each use).
    */
  def storeRelation(n: String, p: LogicalPlan): Option[LogicalPlan] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: StoreTable[_] if t.storeName.equalsIgnoreCase(n) => Some(r)
      case _ => None
    }
    case r: V2TableReference if r.catalog.isInstanceOf[GraftCatalog] &&
        r.identifier.name.equalsIgnoreCase(n) => Some(r)
    case _ => None
  }
}

/** The bucket V2 function backing `bucket(n, col)` transforms. Its result
  * matches Spark's own HashPartitioning routing (murmur3 seed 42, pmod) —
  * the exact distribution the write path's clustered requirement produced
  * — so a planner-initiated shuffle-one-side SPJ stays correctly
  * co-located with stored buckets.
  */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String = "graftstore bucket(numBuckets, col)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      s"bucket expects (numBuckets, key...), got ${inputType.catalogString}")
    val keyTypes = inputType.fields.drop(1).map(_.dataType)
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = IntegerType +: keyTypes
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String =
        s"graft.bucket(${keyTypes.mkString(",")})"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        // shared seed-42 murmur3 routing — identical to the write
        // distribution and the scan-side pruning (BucketRouting)
        BucketRouting.bucketOfRow(input, 1, keyTypes, n)
      }
    }
  }
}
