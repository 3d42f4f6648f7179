package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The reference's SYS virtual-table schema, rebuilt as analyzer-resolved
  * relations (reference: `io/snappydata/SnappyTableStatsProviderService
  * .scala` feeds `SYS.TABLESTATS`; its Derby heritage exposes
  * SYS.MEMBERS / SYSTABLES / SYSPOLICIES the same way — dashboards and
  * ops scripts poll them with plain SQL). `SELECT * FROM sys.<name>`
  * resolves LIVE at analysis time: every query re-reads the current
  * registries, nothing is a stale registered view.
  *
  * METADATA-ONLY at any scale: every relation materializes from
  * driver-side state (snapshot refs, the status tracker, policy / sample
  * / sink registries) — no table data is scanned, so polling these at
  * 100 TB costs the same as at 100 MB.
  *
  * The `sys` schema name is reserved by this rule; it matches only
  * two-part `sys.<known-name>` identifiers and leaves everything else
  * (including unknown `sys.x`) to the normal resolver.
  */
object SysRelations {

  val names: Seq[String] =
    Seq("tablestats", "members", "indexes", "policies", "samples",
      "sinkstate", "queries", "sketches", "constraints", "diskstores",
      "synonyms", "replicas", "matviews")

  /** Live frame for one sys relation, None for unknown names. */
  def frame(spark: SparkSession, name: String): Option[DataFrame] =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "tablestats" => Some(GraftSession(spark).tableStats)
      case "indexes" => Some(GraftSession(spark).sysIndexes)
      case "samples" => Some(GraftSession(spark).sysSamples)
      case "queries" => Some(GraftSession(spark).sysQueries)
      case "members" => Some(members(spark))
      case "policies" => Some(policies(spark))
      case "sinkstate" => Some(sinkState(spark))
      case "sketches" => Some(sketches(spark))
      case "constraints" => Some(constraints(spark))
      case "diskstores" => Some(diskstores(spark))
      case "synonyms" => Some(synonymsRel(spark))
      case "replicas" => Some(GraftSession(spark).sysReplicas)
      case "matviews" => Some(GraftSession(spark).sysMatviews)
      case _ => None
    }

  /** SYS.SYNONYMS (Derby SYSALIASES face): live synonym → target map. */
  private def synonymsRel(spark: SparkSession): DataFrame =
    spark.createDataFrame(GraftSession(spark).synonyms)
      .toDF("name", "target")

  /** SYS.DISKSTORES (Derby/GemFire SYS.SYSDISKSTORES face): one row per
    * registered diskstore — directories, bound tables, recorded
    * oplog-tuning props. Metadata-only.
    */
  private def diskstores(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.graft.store.Diskstores
    val rows = Diskstores.all.map { ds =>
      (ds.name, ds.dirs.mkString(","),
        Diskstores.boundTables(ds.name).mkString(","),
        ds.props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","))
    }
    spark.createDataFrame(rows)
      .toDF("name", "dirs", "bound_tables", "props")
  }

  /** SYS.CONSTRAINTS (the Derby SYSCONSTRAINTS face of the row-table
    * constraint registry): one row per constraint, every class — the
    * reference surfaces the same catalog through `show importedkeys` etc.
    * (create-table.md FK example). Metadata-only.
    */
  private def constraints(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.graft.Constraints
    val rows = Constraints.all.flatMap { case (t, tc) =>
      tc.primaryKey.headOption.map(_ => (t, "primary_key", "PRIMARY KEY",
        tc.primaryKey.mkString(","), null: String, null: String, null: String)).toSeq ++
      tc.notNull.filterNot(tc.primaryKey.contains).map(c =>
        (t, "not_null", "NOT NULL", c, null: String, null: String, null: String)) ++
      tc.uniques.map(u => (t, u.name, "UNIQUE", u.columns.mkString(","),
        null: String, null: String, null: String)) ++
      tc.foreignKeys.map(f => (t, f.name, "FOREIGN KEY", f.columns.mkString(","),
        f.refTable, f.refColumns.mkString(","), null: String)) ++
      tc.checks.map(c => (t, c.name, "CHECK", null: String,
        null: String, null: String, c.exprSql)) ++
      tc.identity.map(i => (t, "identity", if (i.always) "IDENTITY ALWAYS"
        else "IDENTITY BY DEFAULT", i.column, null: String, null: String,
        s"START WITH ${i.startWith} INCREMENT BY ${i.incrementBy}")).toSeq
    }
    spark.createDataFrame(rows).toDF("table_name", "constraint_name",
      "constraint_type", "columns", "ref_table", "ref_columns", "detail")
  }

  /** One row per (column table, sketched column): batch digest coverage
    * and the live approx-distinct estimate — the dashboard face of the
    * `sketch_columns` stats-row digests. `estimate` is NULL while any
    * batch predates the option (the same condition that makes
    * `approxDistinct` refuse); `all_digested` says whether the estimate
    * is currently serveable. Metadata-only like every sys relation.
    */
  private def sketches(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.graft.store.GraftColumnStore
    // ONE snapshot + ONE TTL cut per table: coverage, the serveability
    // flag, and the estimate all describe the same live batch set the
    // read paths (and approxDistinct's own gate) would see
    val rows = for {
      t <- GraftColumnStore.tableNames.toSeq.sorted
      snap = GraftColumnStore(t).snapshot
      live = snap.liveRefs
      c <- snap.sketchBy.sorted
    } yield {
      val idx = snap.schema.fieldIndex(c)
      val digests = live.map(_.stats(idx).distinctSketch)
      val digested = digests.count(_ != null)
      val all = digested == live.length
      val deltas = snap.updates.valuesIterator
        .flatMap(_.get(idx).iterator.flatMap(_.iterator)).map(_.sketch).toSeq
      val est: java.lang.Long =
        if (all && deltas.forall(_ != null))
          java.lang.Long.valueOf(GraftColumnStore.DistinctSketch.estimate(
            (digests ++ deltas).iterator))
        else null
      (t, c, live.length, digested, all, est)
    }
    spark.createDataFrame(rows).toDF("table_name", "column_name",
      "n_batches", "n_digested", "all_digested", "estimate")
  }

  /** SYS.MEMBERS analog from the status tracker — one row per executor
    * (local mode: the single driver member), cluster-correct without any
    * store cooperation.
    */
  private def members(spark: SparkSession): DataFrame = {
    val rows = spark.sparkContext.statusTracker.getExecutorInfos.toSeq
      .map { i =>
        (s"${i.host()}:${i.port()}", i.host(), i.port(), i.numRunningTasks(),
          i.usedOnHeapStorageMemory() + i.usedOffHeapStorageMemory(),
          i.totalOnHeapStorageMemory() + i.totalOffHeapStorageMemory())
      }.sortBy(_._1)
    spark.createDataFrame(rows).toDF("member_id", "host", "port",
      "running_tasks", "storage_used_bytes", "storage_total_bytes")
  }

  /** Every registered row-level-security policy (CREATE POLICY), owner
    * and grantee list included — metadata, not enforcement (reading this
    * does not bypass [[org.apache.spark.sql.graft.PolicyRegistry]]'s
    * per-user filtering on actual table reads).
    */
  private def policies(spark: SparkSession): DataFrame = {
    val rows = org.apache.spark.sql.graft.PolicyRegistry.all.map { p =>
      (p.name, p.table, p.filterSql, p.users.toSeq.sorted.mkString(","), p.owner)
    }
    spark.createDataFrame(rows)
      .toDF("policy_name", "table_name", "filter_sql", "users", "owner")
  }

  /** The exactly-once CDC sink's persisted watermarks (reference
    * SINK_STATE_TABLE): (query, target table) → last committed batch.
    * Reads the backing row table only if a sink ever created it.
    */
  private def sinkState(spark: SparkSession): DataFrame = {
    val t = graft.streaming.CdcSink.StateTable
    org.apache.spark.sql.graft.store.StoreOps.forTable(t).map(_.read(spark, t))
      .getOrElse(spark.createDataFrame(Seq.empty[(String, String, Long)])
        .toDF("query_name", "table_name", "batch_id"))
  }
}

/** Resolves `sys.<name>` relations to [[SysRelations]] frames during
  * analysis. Injected by [[GraftExtensions]].
  */
/** Synonym resolution (reference create-synonym.md): a bare-name
  * relation matching a registered synonym rewrites to its target before
  * normal resolution. Cycles were rejected at CREATE SYNONYM, so the
  * walk inside resolveSynonym is bounded.
  */
case class SynonymRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val g = GraftSession(session)
    if (g.synonyms.isEmpty) return plan // zero-cost when unused
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation
          if u.multipartIdentifier.length == 1 &&
            g.isSynonym(u.multipartIdentifier.head) =>
        u.copy(multipartIdentifier =
          Seq(g.resolveSynonym(u.multipartIdentifier.head)))
    }
  }
}

case class SysRelationRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation
          if u.multipartIdentifier.length == 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("sys") &&
            SysRelations.names.contains(
              u.multipartIdentifier(1).toLowerCase(java.util.Locale.ROOT)) =>
        SysRelations.frame(session, u.multipartIdentifier(1))
          .map(_.queryExecution.analyzed).getOrElse(u)
    }
}
