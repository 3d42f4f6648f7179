package org.apache.spark.sql.graft.parser

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.store.GraftCatalog
import org.apache.spark.sql.types.{DataType, StructType}

/** Session parser for the Snappy statement surface, installed via
  * `injectParser` (the rebuild of the reference's SnappySqlParser
  * delegation: its parser tries the Snappy grammar first and falls back
  * to Spark's). [[GraftStatements]] recognizes the additive statements;
  * embedded expressions/queries are parsed by the DELEGATE (stock Spark
  * parser), so the full Spark expression language — quoted identifiers,
  * subqueries, CASE, intervals — works in WHERE/SET/source position.
  * UPDATE/DELETE are only intercepted for graft tables the session
  * routes to the store (see `routesToGraft`); everything else (including
  * DSv2 catalog DML) flows to Spark unchanged.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  import GraftStatements._

  private def g = graft.GraftSession(session)

  /** Bare name `t` routes to the graft table of that name: the store
    * registry holds it (whichever session created it) or it is an
    * attached view, and the session resolves the name to no relation of
    * its own other than the table's own read. A user temp view over
    * parquet or a session-catalog table under the same name keeps its
    * own route. Metadata lookups only: a temp view's stored plan is
    * inspected without analysis.
    */
  private def routesToGraft(t: String): Boolean = {
    val n = g.resolveSynonym(t)
    g.isManaged(n) &&
      (org.apache.spark.sql.graft.store.ReplicaGuard.infoOf(n).exists(_.mode == "view") ||
        GraftCatalog.ownRelation(session, n)
          .forall(GraftCatalog.storeRelation(n, _).isDefined))
  }

  /** Temp views qualify for the external-DML view-swap path (graft
    * tables route first); everything in a real catalog keeps Spark's
    * native row-level ops.
    */
  private def isExternalDmlTarget(t: String): Boolean =
    session.catalog.tableExists(t) &&
      (try session.catalog.getTable(t).isTemporary catch { case _: Exception => false })

  /** A bare or `graft.`-qualified name naming a graft STORE table whose
    * constraints require the enforcing insert path (identity fill,
    * CHECK/UNIQUE/FK validation) — consulted against the JVM-GLOBAL
    * registries, so enforcement holds from sessions that didn't create
    * the table (JDBC/Thrift). Returns the normalized store name, or
    * None for everything the native INSERT should keep.
    */
  private def constrainedInsertTarget(t: String): Option[String] = {
    val parts = t.split("\\.")
    val (nm, qualified) = parts match {
      case Array(one) => (Some(one.toLowerCase), false)
      case Array(cat, name) if cat.equalsIgnoreCase("graft") =>
        (Some(name.toLowerCase), true)
      case _ => (None, false)
    }
    nm.filter { n =>
      org.apache.spark.sql.graft.store.StoreOps.forTable(n).isDefined &&
        org.apache.spark.sql.graft.Constraints.get(n).exists(_.enforced) &&
        // bare names the SESSION resolves to something else — a temp
        // view or a session-catalog table that shadows a same-named
        // graft store table created elsewhere — keep the native path:
        // intercepting would hijack the user's own relation.
        // `graft.`-qualified names are explicit and always intercept. A
        // session relation that SCANS this store table — a managed
        // name's own temp view (which IS the store table), a
        // user-registered passthrough, or a derived view — cannot go
        // native either: Spark 4 writes INSERTs THROUGH such a view to
        // the underlying V2 relation, silently bypassing
        // identity/CHECK/UNIQUE/FK — same-schema shadows enforce,
        // schema-changing ones fail fast inside [[shadowOfStoreTable]].
        (qualified || GraftCatalog.ownRelation(session, n)
          .forall(shadowOfStoreTable(n, _)))
    }
  }

  /** Classifies the SESSION's own relation `own` for bare name `n` when
    * it shadows the same-named constrained graft store table. Spark's
    * native INSERT resolves a temp view over a DSv2 relation by writing
    * THROUGH it into the underlying table (the view's Filter/Project are
    * not applied to the write) — so a shadow that scans the store table
    * can never keep the native path without bypassing enforcement.
    * Returns false when the shadow is unrelated to the store table (the
    * user's own relation — native path, Spark decides insertability);
    * true when it is a passthrough (alias-wrapped only) or exposes the
    * table's exact schema (names + types, in order) — the enforcing
    * insert writes the same rows Spark's write-through would, plus the
    * constraint checks; and THROWS (fail-fast, matching the
    * parameterized-INSERT discipline) when the shadow reshapes the
    * schema — the enforcing command cannot reproduce Spark's
    * view-schema column mapping, and routing native would silently
    * skip CHECK/UNIQUE/FK/identity.
    */
  private def shadowOfStoreTable(n: String, own: LogicalPlan): Boolean = {
    // only a LINEAR Project/Filter chain over the single store relation
    // is a write-through shadow; a multi-source view (UNION/JOIN/agg)
    // that merely CONTAINS the relation keeps the native path — Spark
    // refuses inserting into a multi-relation view, which is the right
    // error, and intercepting would silently pick one branch as target
    def linearBase(p: LogicalPlan): Option[LogicalPlan] = p match {
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        linearBase(pr.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        linearBase(f.child)
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        linearBase(s.child)
      case v: org.apache.spark.sql.catalyst.plans.logical.View =>
        linearBase(v.child)
      case other => GraftCatalog.storeRelation(n, other)
    }
    if (GraftCatalog.storeRelation(n, own).isDefined) true
    else linearBase(own) match {
      case None => false // unrelated, or not a linear write-through shape
      case Some(rel) =>
        def shape(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) =
          out.map(a => (a.name.toLowerCase, a.dataType))
        if (shape(own.output) == shape(rel.output)) true
        else throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3105",
          messageParameters = Map("message" ->
            (s"INSERT into '$n' resolves through a derived view of " +
              s"constrained graft table '$n' with a different schema; " +
              "Spark would write through the view and bypass constraint " +
              s"enforcement — insert into graft.$n directly")))
    }
  }

  /** Persistent session-catalog tables backed by a FILE source qualify
    * for copy-on-write DML (reference DMLExternalTable on external
    * relations): the formats have no native row-level ops, so UPDATE /
    * DELETE rewrite the table — the same CoW contract lakehouse formats
    * apply. V2 catalogs (e.g. `graft.t`) and temp views never land here.
    */
  private def isCatalogCowDmlTarget(t: String): Boolean = {
    if (!session.catalog.tableExists(t)) return false
    try {
      if (session.catalog.getTable(t).isTemporary) return false
      val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val meta = classic.sessionState.catalog
        .getTableMetadata(delegate.parseTableIdentifier(t))
      meta.provider.exists(p =>
        Set("parquet", "orc", "json", "csv", "text").contains(p.toLowerCase))
    } catch { case _: Exception => false }
  }

  /** The single routing decision: Some(command) when the statement is
    * graft-intercepted, None when it belongs to the delegate. parsePlan
    * AND parsePlanWithParameters both consult exactly this — a guard
    * added or changed here can never diverge between the two entry
    * points (a MERGE-only predicate here once silently dropped parameter
    * bindings for guarded UPDATE/DELETE forms the grammar recognizes but
    * delegates).
    */
  private def graftPlan(rewritten: String,
      hasParameters: Boolean = false): Option[LogicalPlan] = Option(
    GraftStatements.parse(rewritten) match {
      case Some(PutInto(t, src)) =>
        GraftPutIntoCommand(t, delegate.parsePlan(src))
      // native MERGE INTO syntax, canonical-upsert form, on MANAGED
      // tables → the PUT INTO path (same contract); other targets keep
      // Spark's row-level MERGE
      case Some(m: MergeInto) if routesToGraft(m.table) =>
        GraftMergeIntoCommand(m.table.toLowerCase, m.source, m.onCond, m.clauses,
          (m.targetAlias.toSeq :+ m.table).map(_.toLowerCase),
          (m.sourceAlias.toSeq :+ m.source).map(_.toLowerCase))
      // INSERT INTO a graft store table carrying ENFORCED constraints
      // (identity / CHECK / UNIQUE / FK): route through the session's
      // enforcing insert so the store guarantees hold on the SQL face
      // too (a raw DSv2 append would bypass identity fill and CHECK).
      // Guarded on the JVM-GLOBAL registries — a JDBC/Thrift session
      // that didn't create the table still gets enforcement. Everything
      // else (unconstrained tables, other catalogs, BY NAME/PARTITION
      // forms) stays native. PARAMETERIZED statements cannot take the
      // enforcing path (the command re-parses its source with no
      // binding context) — but routing them native would silently skip
      // identity fill / CHECK / UNIQUE / FK, so they FAIL FAST instead.
      case Some(InsertInto(t, cols, src)) =>
        constrainedInsertTarget(t) match {
          case Some(nm) if hasParameters =>
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "_LEGACY_ERROR_TEMP_3105",
              messageParameters = Map("message" ->
                (s"parameterized INSERT into constrained table '$nm' is not " +
                  "supported (constraint enforcement cannot re-bind parameters); " +
                  "inline the values or use the session insert API")))
          case Some(nm) =>
            delegate.parsePlan(src) // statement-time parse errors surface here
            GraftConstrainedInsertCommand(nm, cols, src)
          case None => null // unconstrained: Spark's native INSERT
        }
      case Some(Update(t, assigns, where)) if routesToGraft(t) =>
        // validate all embedded expressions NOW (statement-time parse
        // errors); the command re-parses at run — commands must not carry
        // unresolved Expression fields past the analyzer
        assigns.foreach { case (_, v) => delegate.parseExpression(v) }
        delegate.parseExpression(where)
        GraftUpdateCommand(t, assigns, where)
      case Some(Delete(t, where)) if routesToGraft(t) =>
        delegate.parseExpression(where)
        GraftDeleteCommand(t, where)
      // DML on EXTERNAL tables (reference DMLExternalTable,
      // SnappyDDLParser.scala:1068): an unmanaged temp view (e.g. a
      // registered parquet/JDBC relation) supports UPDATE/DELETE by
      // recomputing the view over its ORIGINAL source plan — the files
      // are never touched; catalog DSv2 tables still flow to Spark's
      // native row-level DML unchanged
      case Some(Update(t, assigns, where)) if isExternalDmlTarget(t) =>
        assigns.foreach { case (_, v) => delegate.parseExpression(v) }
        delegate.parseExpression(where)
        GraftExternalUpdateCommand(t, assigns, where)
      case Some(Delete(t, where)) if isExternalDmlTarget(t) =>
        delegate.parseExpression(where)
        GraftExternalDeleteCommand(t, where)
      // persistent file-source catalog tables: copy-on-write rewrite
      case Some(Update(t, assigns, where)) if isCatalogCowDmlTarget(t) =>
        assigns.foreach { case (_, v) => delegate.parseExpression(v) }
        delegate.parseExpression(where)
        GraftCatalogCowCommand(t, assigns, Some(where))
      case Some(Delete(t, where)) if isCatalogCowDmlTarget(t) =>
        delegate.parseExpression(where)
        GraftCatalogCowCommand(t, Nil, Some(where), isDelete = true)
      case Some(CreateFunction(n, cls, ret, jar)) =>
        ret.foreach(delegate.parseDataType) // validate at statement time
        GraftCreateFunctionCommand(n, cls, ret, jar)
      case Some(CreatePolicy(n, t, users, filter)) =>
        // validate the filter expression now (parse errors surface at
        // statement time, like any DDL)
        delegate.parseExpression(filter)
        GraftCreatePolicyCommand(n, t, users, filter)
      case Some(DropPolicy(n)) => GraftDropPolicyCommand(n)
      case Some(CreateSampleTable(n, base, opts)) =>
        GraftCreateSampleTableCommand(n, base, opts)
      case Some(CreateTableUsing(n, provider, schema, opts, sel)) =>
        // empty-table form: materialize the schema as an empty relation.
        // CHAR/VARCHAR must surface as STRING (+ metadata) — Spark plans
        // may not carry raw char/varchar output types. Constraint clauses
        // (NOT NULL / PRIMARY KEY / UNIQUE / FOREIGN KEY / CHECK /
        // GENERATED ... AS IDENTITY — reference create-table.md) are
        // extracted here: Spark's schema grammar knows none of them.
        val (source, constraints) = sel.map(s =>
            (delegate.parsePlan(s), org.apache.spark.sql.graft.Constraints.TableConstraints()))
          .getOrElse {
            val (cleanDdl, tc) =
              org.apache.spark.sql.graft.Constraints.extract(schema.get)
            tc.checks.foreach(c => delegate.parseExpression(c.exprSql)) // statement-time
            val st = org.apache.spark.sql.catalyst.util.CharVarcharUtils
              .replaceCharVarcharWithStringInSchema(delegate.parseTableSchema(cleanDdl))
            (org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
              org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(st)), tc)
          }
        GraftCreateTableCommand(n, provider, opts, source, constraints)
      case Some(CreateStreamTable(n, schema, provider, opts)) =>
        schema.foreach(delegate.parseTableSchema) // validate at statement time
        GraftCreateStreamTableCommand(n, schema, provider, opts)
      case Some(CreateIndex(n, t, cols, Some(provider), opts))
          if routesToGraft(t) =>
        require(cols.size == 1,
          s"CREATE INDEX $n USING $provider takes exactly one vector column")
        GraftCreateAnnIndexCommand(n.toLowerCase, t.toLowerCase,
          cols.head.toLowerCase, provider, opts)
      case Some(CreateIndex(_, t, cols, None, _)) if routesToGraft(t) =>
        GraftCreateIndexCommand(t.toLowerCase, cols)
      case Some(DropIndex(n, _)) if graft.operators.AnnIndexes.contains(n) =>
        GraftDropAnnIndexCommand(n.toLowerCase)
      case Some(DropIndex(_, t)) if routesToGraft(t) =>
        GraftDropIndexCommand(t.toLowerCase)
      case Some(OptimizeZorder(t, cols)) if routesToGraft(t) =>
        GraftOptimizeZorderCommand(t.toLowerCase, cols)
      case Some(AlterAddColumn(t, c, dt)) if routesToGraft(t) =>
        delegate.parseDataType(dt) // validate at statement time
        GraftAlterAddColumnCommand(t.toLowerCase, c, dt)
      case Some(AlterDropColumn(t, c)) if routesToGraft(t) =>
        GraftAlterDropColumnCommand(t.toLowerCase, c)
      case Some(AlterAddConstraint(t, clause)) if routesToGraft(t) =>
        // statement-time shape check: the clause must parse as a
        // table-level constraint (CHECK exprs parse at ADD time below)
        org.apache.spark.sql.graft.Constraints.parseConstraintClause(clause)
        GraftAlterAddConstraintCommand(t.toLowerCase, clause)
      case Some(AlterDropConstraint(t, n)) if routesToGraft(t) =>
        GraftAlterDropConstraintCommand(t.toLowerCase, n.toLowerCase)
      case Some(AlterRebucket(t, n, cs)) if routesToGraft(t) =>
        GraftAlterRebucketCommand(t.toLowerCase, n, cs)
      case Some(TruncateTable(t)) if routesToGraft(t) =>
        GraftTruncateTableCommand(t.toLowerCase)
      case Some(CreateDiskstore(n, ine, props, dirs)) =>
        GraftCreateDiskstoreCommand(n, ine, props, dirs)
      case Some(DropDiskstore(n, ie)) =>
        GraftDropDiskstoreCommand(n, ie)
      case Some(CreateSynonym(n, t)) => GraftSynonymCommand(n, Some(t))
      case Some(PublishTable(t, root, inc)) =>
        GraftPublishTableCommand(t, root, inc)
      case Some(AttachTable(n, r)) => GraftAttachTableCommand(n, r)
      case Some(AttachView(n, r, e, v)) => GraftAttachViewCommand(n, r, e, v)
      case Some(BootstrapCatalog(ds)) => GraftBootstrapCatalogCommand(ds)
      case Some(CreateMatView(n, sel, opts)) =>
        delegate.parsePlan(sel) // statement-time parse errors surface here
        GraftCreateMatViewCommand(n, sel, opts)
      case Some(AlterTopkDecay(n, ts, gens, mw)) =>
        GraftTopkDecayCommand(n, ts, gens, mw)
      case Some(DropMatView(n)) => GraftDropMatViewCommand(n)
      case Some(RefreshMatView(n)) => GraftRefreshMatViewCommand(n)
      case Some(RefreshSample(n)) => GraftRefreshSampleCommand(n)
      case Some(DropSynonym(n)) => GraftSynonymCommand(n, None)
      case Some(SetIsolation(l)) => GraftSetIsolationCommand(l)
      // Derby SET SCHEMA == Spark USE; without this rewrite Spark's own
      // SET statement swallows it as the conf assignment schema=<n>
      case Some(SetSchema(n)) => delegate.parsePlan(s"USE `$n`")
      // guard like TRUNCATE/ALTER: hijack the native statement only for
      // graft-managed sources and temp views (which clone into managed
      // tables) — CREATE TABLE LIKE over a PERSISTENT catalog table must
      // keep Spark's native persistent-table/provider semantics
      case Some(CreateTableLike(n, s)) if routesToGraft(s) ||
          (try session.catalog.getTable(s).isTemporary
           catch { case _: Exception => true }) =>
        GraftCreateTableLikeCommand(n, s)
      case Some(StreamingCtl(a, arg)) =>
        GraftStreamingCtlCommand(a, arg)
      case Some(GrantRevoke(isGrant, privs, t, users)) =>
        GraftGrantRevokeCommand(isGrant, privs, t, users)
      case _ => null
    })

  override def parsePlan(sqlText: String): LogicalPlan = {
    val rewritten = StreamWindowRewrite(sqlText)
    graftPlan(rewritten).getOrElse(withQualify(rewritten)(delegate.parsePlan))
  }

  /** Parse, retrying through [[QualifyRewrite]] when the stock parse
    * fails AND the text carries a top-level QUALIFY — so a column or
    * alias literally named `qualify` keeps the stock parse, and queries
    * without the keyword pay nothing.
    */
  private def withQualify(sql: String)(parse: String => LogicalPlan): LogicalPlan =
    QualifyRewrite(sql) match {
      case None => parse(sql)
      case Some(rewritten) =>
        try parse(sql)
        catch {
          // the stock grammar has no QUALIFY — parse the expansion (its
          // errors, if any, point into the user's own predicate text)
          case _: org.apache.spark.sql.catalyst.parser.ParseException =>
            parse(rewritten)
        }
    }

  // the trait DEFAULT ignores the parameters — route to the delegate's
  // real implementation. Any statement graftPlan hands back (guarded
  // UPDATE/DELETE/MERGE on non-managed targets, unguarded fall-through)
  // keeps its parameter bindings; graft statements themselves take no
  // parameters.
  override def parsePlanWithParameters(sqlText: String,
      ctx: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan = {
    val rewritten = StreamWindowRewrite(sqlText)
    // spark.sql(text) with NO args also lands here (it delegates to the
    // args overload with an empty context) — only ACTUAL bindings gate
    // the constrained-INSERT intercept off
    import org.apache.spark.sql.catalyst.parser._
    val hasParams = ctx match {
      case p: PositionalParameterContext => p.params.nonEmpty
      case n: NamedParameterContext => n.params.nonEmpty
      case h: HybridParameterContext => h.args.nonEmpty
      case _ => true // unknown context shape: assume bound, stay native
    }
    graftPlan(rewritten, hasParameters = hasParams).getOrElse(
      withQualify(rewritten)(delegate.parsePlanWithParameters(_, ctx)))
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

// ---- eagerly-executed commands over the GraftSession surface ----

case class GraftPutIntoCommand(table: String, source: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.graft.GrantRegistry.check(table, "INSERT")
    graft.GraftSession(spark).putInto(table, Dataset.ofRows(classic, source))
    Nil
  }
}

case class GraftUpdateCommand(table: String, assigns: Seq[(String, String)],
    where: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.expr
    org.apache.spark.sql.graft.GrantRegistry.check(table, "UPDATE")
    graft.GraftSession(spark).update(table, expr(where),
      assigns.map { case (k, e) => k -> expr(e) }: _*)
    Nil
  }
}

case class GraftDeleteCommand(table: String, where: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.expr
    org.apache.spark.sql.graft.GrantRegistry.check(table, "DELETE")
    graft.GraftSession(spark).delete(table, expr(where))
    Nil
  }
}

case class GraftGrantRevokeCommand(isGrant: Boolean, privs: Seq[String],
    table: String, users: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.graft.{GrantRegistry, PolicyRegistry}
    // the registry authorizes the requester itself (owner-only mutation)
    if (isGrant)
      GrantRegistry.grant(table, users, privs, requester = PolicyRegistry.currentUser)
    else
      GrantRegistry.revoke(table, users, privs, requester = PolicyRegistry.currentUser)
    Nil
  }
}

case class GraftCreatePolicyCommand(name: String, table: String,
    users: Seq[String], filterSql: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.GraftSession(spark).createPolicy(name, table, filterSql, users.toSet)
    Nil
  }
}

case class GraftDropPolicyCommand(name: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.GraftSession(spark).dropPolicy(name)
    Nil
  }
}

case class GraftCreateSampleTableCommand(name: String, base: String,
    options: Map[String, String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val qcs = options.getOrElse("qcs",
      throw new IllegalArgumentException("CREATE SAMPLE TABLE requires OPTIONS (qcs '...')"))
      .split(",").map(_.trim).toSeq
    val rankKey = options.get("rankkey").map(_.split(",").map(_.trim).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        "CREATE SAMPLE TABLE requires OPTIONS (rankKey '<unique key cols>') for deterministic sampling"))
    val g = graft.GraftSession(spark)
    val fraction = options.getOrElse("fraction", "0.1").toDouble
    val floor = options.getOrElse("stratareservoirsize", "50").toInt
    g.createSampleTable(name, spark.table(base),
      qcs = qcs, fraction = fraction, reservoirFloor = floor,
      rankKey = rankKey)
    // params registered ⇒ future inserts into the base fan a consistent
    // stratified increment into this sample (SampleInsertExec analog)
    g.registerSample(base, name, qcs,
      Some(graft.GraftSession.SampleParams(fraction, floor, rankKey)))
    Nil
  }
}

case class GraftAlterAddColumnCommand(table: String, column: String,
    dataTypeSql: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val dt = classic.sessionState.sqlParser.parseDataType(dataTypeSql)
    graft.GraftSession(spark).alterTable(table)(df =>
      df.withColumn(column, org.apache.spark.sql.functions.lit(null).cast(dt)))
    Nil
  }
}

case class GraftAlterDropColumnCommand(table: String, column: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // Derby RESTRICT: a column referenced by any constraint (own table's
    // NOT NULL / CHECK / UNIQUE / FK / PK / identity, or a CHILD table's
    // foreign key on this parent) cannot be dropped
    org.apache.spark.sql.graft.Constraints.assertColumnDroppable(
      table, column.toLowerCase)
    graft.GraftSession(spark).alterTable(table)(_.drop(column))
    Nil
  }
}

/** ALTER TABLE t ADD [CONSTRAINT n] UNIQUE/FOREIGN KEY/CHECK/PRIMARY KEY
  * — existing rows are validated (Derby semantics), then the constraint
  * binds for every later statement.
  */
case class GraftAlterAddConstraintCommand(table: String, clause: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.GraftSession(spark).addConstraint(table, clause)
    Nil
  }
}

case class GraftAlterDropConstraintCommand(table: String, name: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.GraftSession(spark).dropConstraint(table, name)
    Nil
  }
}

/** ALTER TABLE t REBUCKET n [BY (cols)] — atomic bucket-layout rewrite
  * on whichever store holds the table; the session's view re-resolves so
  * the next plan sees the new KeyGroupedPartitioning (the co-location
  * remedy for mismatched bucket counts, PERF_NOTES §18).
  */
case class GraftAlterRebucketCommand(table: String, buckets: Int,
    columns: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    org.apache.spark.sql.graft.store.StoreOps(table).rebucket(spark, table, buckets, columns)
    graft.GraftSession(spark).refreshManaged(table)
    Nil
  }
}

case class GraftCreateIndexCommand(table: String, columns: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // row tables get per-column secondary indexes (sorted-slot arrays +
    // pack stats); column tables get clustering (sorted batch rewrite)
    org.apache.spark.sql.graft.store.StoreOps(table).createIndex(spark, table, columns)
    Nil
  }
}

/** OPTIMIZE t ZORDER BY (a, b, ...) — multi-column clustering rewrite of
  * a managed column table (see [[GraftStoreOps.zorderBy]] for the plan
  * shape and why it beats a single-column sort on box predicates).
  */
case class GraftOptimizeZorderCommand(table: String, columns: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    org.apache.spark.sql.graft.store.GraftStoreOps.zorderBy(spark, table, columns)
    Nil
  }
}

/** MERGE INTO t USING s ON <key equalities> WHEN MATCHED THEN UPDATE
  * SET * WHEN NOT MATCHED THEN INSERT * — the canonical upsert, which is
  * exactly PUT INTO's contract, accepted so ported Spark/Delta-style SQL
  * runs against managed tables. Any richer clause set (conditions,
  * per-column SETs, DELETE branches) is rejected with a pointer to the
  * dedicated DML surface rather than silently approximated.
  */
case class GraftMergeIntoCommand(table: String, source: String,
    onCond: String, clauses: String,
    targetQuals: Seq[String], sourceQuals: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val canon = clauses.trim.replaceAll("\\s+", " ").toUpperCase
    require(canon == "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      s"MERGE INTO $table: only the canonical upsert form is supported " +
        "(WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *) — " +
        "use PUT INTO / GraftSession.putInto or UPDATE/DELETE for richer merges")
    val g = graft.GraftSession(spark)
    val keys = g.tableState(table).map(_.keyColumns).getOrElse(Nil)
    require(keys.nonEmpty, s"MERGE INTO $table: the table has no KEY_COLUMNS")
    // the ON condition must be the key-equality conjunction with one
    // TARGET-side and one SOURCE-side reference per key. Qualifiers are
    // resolved, not stripped: erasing them first would accept
    // 'ON t.k = t.k' (a degenerate cross-match, NOT the upsert join) as
    // if it were the canonical form. A bare reference may play either
    // role, but bare = bare is ambiguous (both relations have the key
    // column) and is rejected like Spark's own resolver would. Split on
    // word-boundary AND *before* collapsing whitespace — a key column
    // containing the letters "and" must not split
    val eq = "(?:(\\w+)\\.)?(\\w+)=(?:(\\w+)\\.)?(\\w+)".r
    val seen = onCond.toLowerCase.split("(?i)\\band\\b").toSeq.map { c =>
      c.replaceAll("[\\s()]+", "") match {
        case eq(q1, c1, q2, c2) =>
          require(c1 == c2 && keys.exists(_.toLowerCase == c1),
            s"MERGE INTO $table: ON conjunct '$c' is not a key-equality " +
              s"over (${keys.mkString(", ")})")
          def side(q: String): String =
            if (q == null) "bare"
            else if (targetQuals.contains(q)) "target"
            else if (sourceQuals.contains(q)) "source"
            else sys.error(s"MERGE INTO $table: unknown qualifier '$q' in ON conjunct '$c'")
          val roles = Set(side(q1), side(q2))
          require(roles == Set("target", "source") ||
              roles == Set("bare", "target") || roles == Set("bare", "source"),
            s"MERGE INTO $table: ON conjunct '$c' must compare the TARGET key " +
              "with the SOURCE key (e.g. t.k = s.k), got two references to " +
              "the same side")
          c1
        case other =>
          sys.error(s"MERGE INTO $table: ON must be a conjunction of key " +
            s"equalities over (${keys.mkString(", ")}), got: $other")
      }
    }
    require(seen.sorted == keys.map(_.toLowerCase).sorted,
      s"MERGE INTO $table: ON must cover each key column exactly once " +
        s"(${keys.mkString(", ")}), got: $onCond")
    // SQL MERGE errors on multiple source rows per key; putInto would
    // silently first-wins — keep MERGE's contract
    val src = spark.table(source)
    val dup = src.groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
      .count().filter(org.apache.spark.sql.functions.col("count") > 1).limit(1).count()
    require(dup == 0,
      s"MERGE INTO $table: multiple source rows share a key — MERGE requires " +
        "unique source keys (dedupe the source, or use PUT INTO for " +
        "first-wins semantics)")
    g.putInto(table, src)
    Nil
  }
}

/** PUBLISH TABLE / ATTACH TABLE / ATTACH VIEW — SQL faces of the
  * connector-mode serving API ([[graft.GraftSession.publishTable]] and
  * friends); each returns the epoch it published or attached so a SQL
  * client can record which snapshot it is serving.
  */
/** CREATE / DROP / REFRESH MATERIALIZED VIEW — SQL faces of
  * [[graft.GraftSession.createMaterializedView]] and friends. REFRESH
  * returns the maintenance path taken (noop | incremental | full) so an
  * operator can see whether the O(delta) path held.
  */
case class GraftCreateMatViewCommand(name: String, selectSql: String,
    options: Map[String, String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val buckets = options.get("buckets").map(_.toInt).getOrElse(32)
    graft.GraftSession(spark).createMaterializedView(name, selectSql, buckets)
    Nil
  }
}

case class GraftDropMatViewCommand(name: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.GraftSession(spark).dropMaterializedView(name)
    Nil
  }
}

/** INSERT INTO a constrained graft store table, routed through the
  * session's enforcing insert: identity fill (column omitted via a
  * column list, or bound NULL for BY DEFAULT), CHECK/NOT NULL/UNIQUE/FK
  * validation — the store-side guarantees the reference applies to
  * every protocol face. ONE pass over the source (no count pre-scan:
  * an INSERT ... SELECT from a large table must not scan twice).
  */
case class GraftConstrainedInsertCommand(table: String, columns: Seq[String],
    sourceSql: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val g = graft.GraftSession(spark)
    val src0 = spark.sql(sourceSql)
    // a column list renames the source's positional output (VALUES
    // yields col1, col2, …) so g.insert's by-name alignment — and the
    // identity-omitted shape — resolve exactly as the user wrote them.
    // Validate it against the TARGET schema first: an unknown (typo'd)
    // or duplicated name would otherwise degrade to a silent positional
    // rename, landing values in the wrong columns where native Spark
    // rejects the statement.
    val src = if (columns.nonEmpty) {
      val targetCols = org.apache.spark.sql.graft.store.StoreOps(table)
        .schema(table).fieldNames.toSeq
      val unknown = columns.filterNot(c =>
        targetCols.exists(_.equalsIgnoreCase(c)))
      if (unknown.nonEmpty) throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3105",
        messageParameters = Map("message" ->
          (s"INSERT INTO $table: unknown column(s) ${unknown.mkString(", ")} " +
            s"(table columns: ${targetCols.mkString(", ")})")))
      val dups = columns.groupBy(_.toLowerCase).collect {
        case (_, vs) if vs.size > 1 => vs.head
      }
      if (dups.nonEmpty) throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3105",
        messageParameters = Map("message" ->
          (s"INSERT INTO $table: duplicate column(s) ${dups.mkString(", ")} " +
            "in the insert column list")))
      src0.toDF(columns: _*)
    } else src0
    g.insert(table, src)
    Nil
  }
}

/** ALTER TOPK t DECAY OLDER THAN 'ts' — SQL retention face of
  * [[graft.GraftSession.decayApproxTSTopK]] (target-stated, so a retried
  * SQL retention job is a no-op at an unchanged cutoff).
  */
case class GraftTopkDecayCommand(name: String, olderThan: String,
    generations: Int, minWidth: Int) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.GraftSession(spark).decayApproxTSTopK(name, olderThan,
      generations, minWidth)
    Nil
  }
}

case class GraftRefreshMatViewCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "path", org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.GraftSession(spark).refreshMaterializedView(name)))
}

/** REFRESH SAMPLE [TABLE] s — the SQL face of
  * [[graft.GraftSession.refreshSample]]: re-stratify a registered sample
  * over the current base (repairs `sys.samples.is_fresh = false`).
  */
case class GraftRefreshSampleCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "path", org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.GraftSession(spark).refreshSample(name)))
}

case class GraftPublishTableCommand(table: String, root: Option[String],
    incremental: Boolean) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "epoch", org.apache.spark.sql.types.LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val g = graft.GraftSession(spark)
    val e = root match {
      case Some(r) => g.publishTable(table, r, incremental)
      case None => g.publishTable(table, incremental)
    }
    Seq(Row(e))
  }
}

case class GraftAttachTableCommand(name: String, root: String)
    extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "epoch", org.apache.spark.sql.types.LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.GraftSession(spark).attachTable(name, root)))
}

case class GraftAttachViewCommand(name: String, root: String,
    epoch: Option[Long], verify: Boolean) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "epoch", org.apache.spark.sql.types.LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.GraftSession(spark).attachView(name, root, epoch, verify)))
}

/** BOOTSTRAP CATALOG — cold-JVM recovery of every durable table under
  * the registered diskstores ([[graft.GraftSession.bootstrap]]); returns
  * one row per discovered table so a SQL client sees what came back.
  */
case class GraftBootstrapCatalogCommand(diskstore: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{LongType, StringType}
    Seq(AttributeReference("table_name", StringType, nullable = false)(),
      AttributeReference("diskstore", StringType, nullable = false)(),
      AttributeReference("source", StringType, nullable = false)(),
      AttributeReference("epoch", LongType, nullable = false)(),
      AttributeReference("action", StringType, nullable = false)())
  }
  override def run(spark: SparkSession): Seq[Row] =
    graft.GraftSession(spark).bootstrap(diskstore).collect().toSeq
}

case class GraftTruncateTableCommand(table: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.GraftSession(spark).truncateTable(table)
    Nil
  }
}

/** CREATE DISKSTORE (reference create-diskstore.md): registers a named
  * durable directory that `OPTIONS (diskstore 'name')` tables checkpoint
  * to by default; oplog-tuning props are recorded, not honored.
  */
case class GraftCreateDiskstoreCommand(name: String, ifNotExists: Boolean,
    props: Map[String, String], dirs: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    org.apache.spark.sql.graft.store.Diskstores.create(name, dirs, props, ifNotExists)
    // opt-in implicit durability (the reference's catalog lives INSIDE
    // the store, so a restarted member recovers its tables without
    // being asked — SnappyHiveExternalCatalog.scala:67): with
    // spark.sql.graft.bootstrapOnInit=true, registering a diskstore in
    // a cold JVM immediately sweeps it, so every durable table under it
    // reappears with zero further calls. Existing names win (the sweep
    // reports skipped_exists), so a warm-JVM re-register is a no-op.
    if (spark.conf.get("spark.sql.graft.bootstrapOnInit", "false").toBoolean) {
      graft.GraftSession(spark).bootstrap(Some(name))
    }
    Nil
  }
}

case class GraftDropDiskstoreCommand(name: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    org.apache.spark.sql.graft.store.Diskstores.drop(name, ifExists)
    Nil
  }
}

/** CREATE SYNONYM n FOR t / DROP SYNONYM n (reference create-synonym.md). */
case class GraftSynonymCommand(name: String, target: Option[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val g = graft.GraftSession(spark)
    target match {
      case Some(t) => g.createSynonym(name, t)
      case None => g.dropSynonym(name)
    }
    Nil
  }
}

/** SET [CURRENT] ISOLATION (reference set-isolation.md). */
case class GraftSetIsolationCommand(level: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.GraftSession(spark).setIsolation(level)
    Nil
  }
}

/** CREATE INDEX ... USING ivf|ivfpq — the ANN index family's DDL face
  * (reference SnappySession.createIndex:1760 routes providers likewise);
  * builds via [[graft.operators.AnnIndexes]], whose state is managed
  * store tables.
  */
case class GraftCreateAnnIndexCommand(name: String, table: String,
    column: String, provider: String,
    options: Map[String, String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.operators.AnnIndexes.create(spark, name, table, column, provider, options)
    Nil
  }
}

case class GraftDropAnnIndexCommand(name: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.operators.AnnIndexes.drop(spark, name)
    Nil
  }
}

case class GraftDropIndexCommand(table: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    org.apache.spark.sql.graft.store.StoreOps(table).dropIndex(spark, table)
    Nil
  }
}

/** CREATE TABLE t LIKE src (reference SnappyDDLParser.createTableLike:349):
  * an EMPTY managed table replicating the source's schema and — when the
  * source is itself managed — its physical layout (provider, bucketing,
  * key columns), so the clone colocates with its original.
  */
case class GraftCreateTableLikeCommand(name: String, source: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val g = graft.GraftSession(spark)
    val src = g.resolveSynonym(source)
    org.apache.spark.sql.graft.store.StoreOps.forTable(src) match {
      case Some(ops) =>
        val l = ops.layout(src)
        g.createTable(name, g.table(src).limit(0), l.keyColumns,
          l.bucketBy, l.numBuckets, ops.provider)
      case None =>
        g.createTable(name, spark.table(source).limit(0))
    }
    Nil
  }
}

/** STREAMING INIT <interval> / START / STOP (reference
  * SnappyDDLParser.streamContext:875) — drives the session's CQ context
  * ([[graft.GraftSession.streamingStart]]).
  */
case class GraftStreamingCtlCommand(action: String, arg: Option[String])
    extends LeafRunnableCommand {
  private def normalizeInterval(s: String): String = {
    val p = "(?i)^(\\d+)\\s*([a-z]+)$".r
    s.trim.stripSuffix(";").trim match {
      case p(n, u) =>
        val unit = u.toLowerCase match {
          case "ms" | "milli" | "millis" | "millisecond" | "milliseconds" => "milliseconds"
          case "s" | "sec" | "secs" | "second" | "seconds" => "seconds"
          case "m" | "min" | "mins" | "minute" | "minutes" => "minutes"
          case other => other
        }
        s"$n $unit"
      case other => other
    }
  }
  override def run(spark: SparkSession): Seq[Row] = {
    val g = graft.GraftSession(spark)
    action match {
      case "init" => g.streamingInit(normalizeInterval(arg.getOrElse(
        throw new IllegalArgumentException("STREAMING INIT requires an interval"))))
      case "start" => g.streamingStart()
      case "stop" => g.streamingStop()
    }
    Nil
  }
}

/** CREATE STREAM TABLE (reference SnappyDDLParser stream DDL): registers
  * a Structured-Streaming source as a named view, so stream SQL
  * (`SELECT ... FROM s`) composes with the rest of the surface and the
  * result is started with `writeStream` as usual.
  */
case class GraftCreateStreamTableCommand(name: String, schemaSql: Option[String],
    provider: String, options: Map[String, String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    var reader = spark.readStream.format(provider)
    schemaSql.foreach(s =>
      reader = reader.schema(classic.sessionState.sqlParser.parseTableSchema(s)))
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val df = reader.load() // the path option (if any) rides along

    df.createOrReplaceTempView(name.toLowerCase)
    // event-time column for the WINDOW (DURATION, SLIDE) clause sugar:
    // explicit `timecolumn` option, else the first timestamp field
    options.get("timecolumn")
      .orElse(df.schema.fields
        .find(_.dataType == org.apache.spark.sql.types.TimestampType).map(_.name))
      .foreach(c => GraftStreamRegistry.put(name.toLowerCase, c))
    Nil
  }
}

case class GraftCreateTableCommand(name: String, provider: String,
    options: Map[String, String], source: LogicalPlan,
    tableConstraints: org.apache.spark.sql.graft.Constraints.TableConstraints =
      org.apache.spark.sql.graft.Constraints.TableConstraints())
    extends LeafRunnableCommand with org.apache.spark.internal.Logging {

  /** Operational options from the reference's DDL surface
    * (StoreUtils.scala:42-58). Most have no analog in this engine's
    * executor-resident snapshot store: accepted so ported DDL scripts run
    * verbatim, logged so nobody believes they took effect. PERSISTENCE /
    * DISKSTORE manage GemFire disk tiers (snapshots here are rebuilt
    * from source or checkpoint); REDUNDANCY is replica count (a cluster
    * deployment concern). EXCEPTIONS — honored and excluded from the
    * ignored-option warning below: EVICTION_BY 'LRUMEMSIZE'/
    * 'LRUHEAPPERCENT' + OVERFLOW (real LRU disk tier) and EXPIRE
    * '<seconds>' (real batch/pack-granularity TTL on both stores).
    */
  private val opsOnlyOptions = Set("persistence", "persistent", "diskstore",
    "overflow", "eviction_by", "expire", "redundancy")
  private val knownOptions =
    opsOnlyOptions ++ Set("key_columns", "partition_by", "buckets", "colocate_with",
      "compression")

  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val g = graft.GraftSession(spark)
    // EVICTION_BY 'LRUMEMSIZE <mb>' WITH OVERFLOW 'true' is HONORED
    // (reference GemFire LRU-overflow regions): past-budget sealed
    // batches spill to the store's disk tier, scans fault them back
    // transiently. Other eviction policies (LRUHEAPPERCENT, LRUCOUNT,
    // destroy-on-evict) stay accept-and-ignore below.
    val overflowBudgetBytes: Long = (for {
      ev <- options.get("eviction_by").map(_.trim.toUpperCase)
      if ev.startsWith("LRUMEMSIZE")
      if options.get("overflow").exists(_.trim.equalsIgnoreCase("true"))
      mb <- ev.stripPrefix("LRUMEMSIZE").trim.toLongOption
    } yield mb << 20).getOrElse(0L)
    // LRUHEAPPERCENT [n] + OVERFLOW: participate in the GLOBAL
    // heap-pressure pool (all such tables share one resident budget,
    // spilled LRU across tables) — honored for column tables. An
    // explicit percent re-sizes the global pool (last DDL wins, like
    // GemFire's resource-manager threshold); a bare LRUHEAPPERCENT
    // joins the pool at its current size.
    val heapPct: Option[Option[Long]] =
      options.get("eviction_by").map(_.trim.toUpperCase)
        .filter(_.startsWith("LRUHEAPPERCENT"))
        .flatMap { ev =>
          val rest = ev.stripPrefix("LRUHEAPPERCENT").trim
          if (rest.isEmpty) Some(None)
          else rest.toLongOption.filter(p => p > 0 && p <= 100).map(Some(_))
        }
    val heapOverflow = provider != "row" && heapPct.isDefined &&
      options.get("overflow").exists(_.trim.equalsIgnoreCase("true"))
    // EXPIRE '<seconds>' (reference row-region timeToLive) is HONORED
    // on both stores as a batch/pack-granularity TTL: sealed units whose
    // every row exceeds the TTL vanish from scans and are reclaimed by
    // the write-commit sweep. Non-numeric values stay accept-and-ignore.
    val expireSeconds: Long =
      options.get("expire").flatMap(_.trim.toLongOption).filter(_ > 0)
        .getOrElse(0L)
    // DISKSTORE 'name' is HONORED as the durable checkpoint root: the
    // table binds to the named store (which must exist) and
    // checkpointTable/restoreTable default to <diskstore dir>/<table>.
    val diskstore: Option[String] =
      options.get("diskstore").map(_.trim.toLowerCase).filter(_.nonEmpty)
    diskstore.foreach { ds =>
      require(org.apache.spark.sql.graft.store.Diskstores.get(ds).isDefined,
        s"CREATE TABLE $name: DISKSTORE '$ds' does not exist — CREATE DISKSTORE it first")
    }
    val honoredOps: Set[String] =
      (if (overflowBudgetBytes > 0L || heapOverflow) Set("eviction_by", "overflow")
       else Set.empty[String]) ++
        (if (expireSeconds > 0L) Set("expire") else Set.empty[String]) ++
        (if (diskstore.isDefined) Set("diskstore") else Set.empty[String])
    // COMPRESSION is a column-store codec (at-rest batch deflate); row
    // packs have no encoded-column form to deflate, so warn rather than
    // letting the user believe a row table compresses
    if (provider == "row" && options.contains("compression")) {
      logWarning(s"CREATE TABLE $name: COMPRESSION applies to column tables only — ignored " +
        "for USING row")
    }
    options.keys.filter(opsOnlyOptions).filterNot(honoredOps).foreach(k => logWarning(
      s"CREATE TABLE $name: option '$k' accepted for DDL compatibility but ignored " +
        "(operational tiering/replication is not managed by this engine)"))
    options.keys.filterNot(knownOptions).foreach(k =>
      logWarning(s"CREATE TABLE $name: unknown option '$k' ignored"))
    val sourceDf = Dataset.ofRows(classic, source)
    val declaredBy = options.get("partition_by").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val declaredBuckets = options.get("buckets").map(_.toInt)
    val (partitionBy, buckets) = options.get("colocate_with").map(_.trim.toLowerCase) match {
      case Some(target) =>
        val (by, n) = org.apache.spark.sql.graft.store.StoreOps.colocateWith(
          s"CREATE TABLE $name", target, sourceDf.schema, declaredBy, declaredBuckets)
        (by, Some(n))
      case None => (declaredBy, declaredBuckets)
    }
    // constraint scope check (reference create-table.md: "Constraint
    // (only for Row Tables)" — NOT NULL is the one clause the reference
    // also accepts on column tables)
    import org.apache.spark.sql.graft.Constraints
    if (provider != "row" && (tableConstraints.checks.nonEmpty ||
        tableConstraints.uniques.nonEmpty || tableConstraints.foreignKeys.nonEmpty ||
        tableConstraints.identity.nonEmpty || tableConstraints.primaryKey.nonEmpty))
      throw new IllegalArgumentException(s"CREATE TABLE $name: PRIMARY KEY / " +
        "UNIQUE / FOREIGN KEY / CHECK / IDENTITY constraints are supported " +
        "only for row tables (USING ROW)")
    val optKeys = options.get("key_columns").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    require(optKeys.isEmpty || tableConstraints.primaryKey.isEmpty ||
        optKeys.map(_.toLowerCase) == tableConstraints.primaryKey,
      s"CREATE TABLE $name: key_columns option (${optKeys.mkString(",")}) conflicts " +
        s"with the PRIMARY KEY constraint (${tableConstraints.primaryKey.mkString(",")})")
    val keyColumns =
      if (tableConstraints.primaryKey.nonEmpty) tableConstraints.primaryKey else optKeys
    // fail BEFORE creating anything: columns exist, identity type legal,
    // FK targets resolve to a parent PK or UNIQUE constraint
    val tcChecked = Constraints.validateShape(name.toLowerCase, sourceDf.schema,
      tableConstraints, ref => g.tableState(ref).map(_.keyColumns).toSeq
        .filter(_.nonEmpty) ++
        Constraints.get(ref).toSeq.flatMap(_.uniques.map(_.columns)))
    g.createTable(name, sourceDf,
      keyColumns = keyColumns,
      partitionBy = partitionBy,
      buckets = buckets.getOrElse(32),
      provider = provider,
      // COMPRESSION (StoreUtils.scala:42-58): honored, not ops-ignored —
      // sealed batches deflate through LZ4 at rest
      compression = options.get("compression").map(_.toLowerCase).getOrElse("none"),
      evictionBudgetBytes = overflowBudgetBytes,
      expireSeconds = expireSeconds)
    // register AFTER the successful create (createTable cleared any
    // constraints of a replaced table of the same name)
    Constraints.register(name.toLowerCase,
      tcChecked.copy(primaryKey = keyColumns.map(_.toLowerCase)))
    diskstore.foreach(ds =>
      org.apache.spark.sql.graft.store.Diskstores.bind(name.toLowerCase, ds))
    if (heapOverflow) {
      heapPct.flatten.foreach { pct =>
        val budget = Runtime.getRuntime.maxMemory() / 100L * pct
        logWarning(s"CREATE TABLE $name: global heap-overflow pool set to $pct% " +
          s"of max heap ($budget bytes)")
        org.apache.spark.sql.graft.store.GraftColumnStore.heapOverflowBudgetBytes = budget
      }
      org.apache.spark.sql.graft.store.GraftColumnStore
        .setHeapOverflow(name.toLowerCase, enabled = true)
      org.apache.spark.sql.graft.store.GraftColumnStore
        .enforceHeapPool(name.toLowerCase)
    }
    Nil
  }
}

/** CREATE FUNCTION f AS class [RETURNS type] [USING JAR 'path']
  * (reference SnappyDDLParser.createFunction:765): loads the class
  * through the session resource loader (so USING JAR works like ADD JAR)
  * and registers it in the session function registry. Supported shapes:
  * `org.apache.spark.sql.api.java.UDF1..UDF5` (RETURNS required — the
  * JVM erases the generic return) and `UserDefinedAggregateFunction`.
  */
case class GraftCreateFunctionCommand(name: String, className: String,
    returnsSql: Option[String], jarPath: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    jarPath.foreach(classic.sessionState.resourceLoader.addJar(_))
    val cls = java.lang.Class.forName(className, true,
      org.apache.spark.util.Utils.getContextOrSparkClassLoader)
    val instance = cls.getDeclaredConstructor().newInstance()
    def ret: DataType = returnsSql.map(classic.sessionState.sqlParser.parseDataType)
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE FUNCTION $name: RETURNS <type> is required for UDF classes " +
          "(the JVM erases the generic return type)"))
    import org.apache.spark.sql.api.java._
    instance match {
      case f: UDF1[_, _] =>
        spark.udf.register(name, f.asInstanceOf[UDF1[Any, Any]], ret)
      case f: UDF2[_, _, _] =>
        spark.udf.register(name, f.asInstanceOf[UDF2[Any, Any, Any]], ret)
      case f: UDF3[_, _, _, _] =>
        spark.udf.register(name, f.asInstanceOf[UDF3[Any, Any, Any, Any]], ret)
      case f: UDF4[_, _, _, _, _] =>
        spark.udf.register(name, f.asInstanceOf[UDF4[Any, Any, Any, Any, Any]], ret)
      case f: UDF5[_, _, _, _, _, _] =>
        spark.udf.register(name, f.asInstanceOf[UDF5[Any, Any, Any, Any, Any, Any]], ret)
      case f: org.apache.spark.sql.expressions.UserDefinedAggregateFunction =>
        spark.udf.register(name, f)
      case other => throw new IllegalArgumentException(
        s"CREATE FUNCTION $name: unsupported class ${other.getClass.getName} — " +
          "implement org.apache.spark.sql.api.java.UDF1..UDF5 or " +
          "UserDefinedAggregateFunction")
    }
    Nil
  }
}

/** Plan-depth control for repeated view-swap DML: each UPDATE/DELETE on
  * a temp view re-registers the view over a plan wrapping the previous
  * one, so a loop of N statements would otherwise build an N-deep plan
  * (the classic iterative-mutation trap). Every `maxChain` chained ops
  * the frame is localCheckpoint'ed — lineage cut, depth bounded by the
  * chain cap, results identical. The checkpoint stores the frame's rows
  * on the executors (MEMORY_AND_DISK): session-tier DML over read-only
  * files is inherently materialized state, exactly the view tier the
  * reference's DMLExternalTable provides.
  */
object GraftExternalDml {
  val maxChain = 4
  private val chained = scala.collection.concurrent.TrieMap.empty[String, Int]

  def register(table: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val key = table.toLowerCase
    val n = chained.getOrElse(key, 0) + 1
    if (n >= maxChain) {
      df.localCheckpoint(eager = true).createOrReplaceTempView(table)
      chained.put(key, 0)
    } else {
      df.createOrReplaceTempView(table)
      chained.put(key, n)
    }
  }
}

/** DML passthrough to external JDBC relations — the literal behavior of
  * the reference's `DMLExternalTable` (SnappyDDLParser.scala:1068):
  * UPDATE/DELETE text is forwarded to the database that owns the table,
  * which executes it natively; the Spark relation sees the change on its
  * next scan. Used when an external DML target's view resolves to a
  * JDBCRelation; non-JDBC relations fall back to the view tier.
  */
object GraftJdbcDml {
  import org.apache.spark.sql.execution.datasources.LogicalRelation
  import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JDBCRelation}

  /** JDBC options of the relation behind `table`'s plan — only when the
    * relation maps to a real database TABLE (a relation registered via
    * the `query` option wraps a generated subquery string that no
    * database accepts as a DML target; those fall back to the view
    * tier).
    */
  def jdbcOptionsOf(spark: SparkSession, table: String): Option[JDBCOptions] =
    spark.table(table).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[JDBCRelation] =>
        l.relation.asInstanceOf[JDBCRelation].jdbcOptions
    }.filter { opts =>
      val t = opts.tableOrQuery.trim
      !t.startsWith("(") && !t.toUpperCase.startsWith("SELECT")
    }

  /** Execute a raw statement on the relation's database. */
  def execute(opts: JDBCOptions, sql: String): Unit = {
    opts.driverClass // ensures the driver registers (lazy val side effect)
    val conn = java.sql.DriverManager.getConnection(
      opts.url, opts.asConnectionProperties)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(sql) finally st.close()
    } finally conn.close()
  }
}

/** UPDATE on an external (unmanaged temp-view) table. A JDBC-backed view
  * forwards the statement to its database (reference DMLExternalTable
  * passthrough, [[GraftJdbcDml]]). Otherwise the view is re-registered
  * over its original source plan with the assignments applied
  * conditionally — session-level DML semantics without touching the
  * underlying files (a read-only file relation gets the view tier).
  * `spark.table(view)` inlines the view at analysis, so the new plan
  * references the SOURCE, never the view name — no self-reference; and
  * [[GraftExternalDml]] bounds the plan depth across repeated DML.
  */
case class GraftExternalUpdateCommand(table: String, assigns: Seq[(String, String)],
    where: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    org.apache.spark.sql.graft.GrantRegistry.check(table, "UPDATE")
    GraftJdbcDml.jdbcOptionsOf(spark, table) match {
      case Some(opts) =>
        // Spark's JDBC writer creates tables with QUOTED (case-exact)
        // column names — quote the SET keys through the same dialect;
        // the WHERE text is passthrough (written in the target dialect,
        // like the reference's forwarded SQL)
        val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(opts.url)
        val sets = assigns
          .map { case (k, v) => s"${dialect.quoteIdentifier(k)} = $v" }
          .mkString(", ")
        GraftJdbcDml.execute(opts,
          s"UPDATE ${opts.tableOrQuery} SET $sets WHERE $where")
      case None =>
        GraftExternalDml.register(table,
          GraftCatalogCowCommand.applyUpdate(spark.table(table), table, assigns, where))
    }
    Nil
  }
}

/** DELETE on an external (unmanaged temp-view) table — see
  * [[GraftExternalUpdateCommand]].
  */
case class GraftExternalDeleteCommand(table: String, where: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    org.apache.spark.sql.graft.GrantRegistry.check(table, "DELETE")
    GraftJdbcDml.jdbcOptionsOf(spark, table) match {
      case Some(opts) =>
        GraftJdbcDml.execute(opts,
          s"DELETE FROM ${opts.tableOrQuery} WHERE $where")
      case None =>
        GraftExternalDml.register(table,
          spark.table(table).filter(not(coalesce(expr(where), lit(false)))))
    }
    Nil
  }
}

/** UPDATE/DELETE on a persistent file-source catalog table:
  * copy-on-write — the surviving/updated rows are materialized
  * (localCheckpoint severs the plan's dependency on the target, which
  * Spark otherwise rejects as read-and-overwrite) and written back with
  * INSERT OVERWRITE. O(table) per statement, the standard CoW contract
  * for formats without row-level ops; row-level O(delta) DML is what
  * the graft store itself is for.
  */
case class GraftCatalogCowCommand(table: String, assigns: Seq[(String, String)],
    where: Option[String], isDelete: Boolean = false) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    org.apache.spark.sql.graft.GrantRegistry.check(table,
      if (isDelete) "DELETE" else "UPDATE")
    val df = spark.table(table)
    val next =
      if (isDelete)
        df.filter(not(coalesce(expr(where.get), lit(false))))
      else
        GraftCatalogCowCommand.applyUpdate(df, table, assigns, where.getOrElse("true"))
    next.localCheckpoint(eager = true)
      .write.mode("overwrite").insertInto(table)
    Nil
  }
}

object GraftCatalogCowCommand {
  /** The conditional-assignment projection shared by the view-swap and
    * copy-on-write paths.
    */
  def applyUpdate(df: org.apache.spark.sql.DataFrame, table: String,
      assigns: Seq[(String, String)], where: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    val names = df.schema.fieldNames
    val setOf = assigns.map { case (k, v) =>
      val c = names.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(s"UPDATE $table: no column '$k'"))
      c -> v
    }.toMap
    val cond = coalesce(expr(where), lit(false))
    df.select(names.map { c =>
      setOf.get(c) match {
        case Some(e) => when(cond, expr(e).cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toSeq: _*)
  }
}

/** Event-time columns of registered stream tables, for the
  * `WINDOW (DURATION d, SLIDE s)` clause sugar.
  */
object GraftStreamRegistry {
  private val cols = scala.collection.concurrent.TrieMap.empty[String, String]
  def put(table: String, timeColumn: String): Unit = cols.put(table, timeColumn)
  def timeColumn(table: String): Option[String] = cols.get(table)
}

/** Textual sugar for the reference's stream WINDOW clause
  * (SnappyParser.streamWindowOptions:552-558, WindowLogicalPlan.scala:24):
  * `FROM stream_t WINDOW (DURATION 10 SECONDS [, SLIDE 5 SECONDS])`
  * becomes a subquery attaching `window(timeCol, '10 seconds'
  * [, '5 seconds']) AS window`, so `GROUP BY window` aggregates per
  * window epoch — the Structured-Streaming-native expression of the
  * reference's windowed DStream batches. Applies only to tables
  * registered by CREATE STREAM TABLE with a known event-time column;
  * any other WINDOW text is left for Spark to parse.
  */
object StreamWindowRewrite {
  private val Win =
    ("""(?is)\bFROM\s+([A-Za-z_][A-Za-z0-9_]*)\s+WINDOW\s*\(\s*DURATION\s+(\d+)\s+""" +
      """([A-Za-z]+)\s*(?:,\s*SLIDE\s+(\d+)\s+([A-Za-z]+)\s*)?\)""").r

  /** ANSI `FETCH FIRST n ROWS ONLY` (reference
    * SnappyParser.queryOrganization:738-786) — Spark's grammar only has
    * LIMIT; rewrite the ANSI spelling to it.
    */
  private val FetchFirst =
    """(?is)\bFETCH\s+FIRST\s+(?:(\d+)\s+)?ROWS?\s+ONLY""".r

  def apply(sql: String): String =
    mapOutsideQuotes(sql)(s =>
      FetchFirst.replaceAllIn(rewriteWindows(s),
        m => s"LIMIT ${Option(m.group(1)).getOrElse("1")}"))

  /** Apply `f` only to the text OUTSIDE quoted spans ('...', "...",
    * `...`) and comments — the rewrites must never touch string
    * literals, quoted identifiers, or comment text, and neither pattern
    * can legally span a quote boundary. Literal/comment scanning is
    * shared with [[QualifyRewrite]] via [[SqlText]].
    */
  private def mapOutsideQuotes(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    var i = 0
    var start = 0
    while (i < sql.length) {
      val skipTo = SqlText.skipComment(sql, i) match {
        case same if same == i =>
          sql.charAt(i) match {
            case '\'' | '"' | '`' => SqlText.skipQuoted(sql, i)
            case _ => i
          }
        case end => end
      }
      if (skipTo > i) {
        out.append(f(sql.substring(start, i)))
        out.append(sql.substring(i, skipTo))
        i = skipTo
        start = i
      } else i += 1
    }
    if (start < sql.length) out.append(f(sql.substring(start)))
    out.toString
  }

  private def rewriteWindows(sql: String): String =
    Win.replaceAllIn(sql, m => {
      val t = m.group(1)
      GraftStreamRegistry.timeColumn(t.toLowerCase) match {
        case Some(ts) =>
          val dur = s"${m.group(2)} ${m.group(3).toLowerCase}"
          val win = Option(m.group(4)) match {
            case Some(s) => s"window($ts, '$dur', '$s ${m.group(5).toLowerCase}')"
            case None => s"window($ts, '$dur')"
          }
          scala.util.matching.Regex.quoteReplacement(
            s"FROM (SELECT *, $win AS window FROM $t) $t")
        case None => scala.util.matching.Regex.quoteReplacement(m.matched)
      }
    })
}

/** Shared low-level SQL text scanning for the text rewrites: skipping
  * quoted literals (backslash escapes live inside '...'/"...", doubled
  * closing quotes are the SQL escape everywhere) and comments (`--` to
  * end of line, plus ANSI bracketed slash-star comments). Both rewrite
  * passes MUST treat these spans as opaque — a keyword inside a literal
  * or a comment is not SQL.
  */
private[parser] object SqlText {

  /** Index just past the quoted literal starting at `i` (sql(i) must be
    * one of ' " `). Unterminated literals run to end of string.
    */
  def skipQuoted(sql: String, i: Int): Int = {
    val q = sql.charAt(i)
    var j = i + 1
    while (j < sql.length) {
      val c = sql.charAt(j)
      if (q != '`' && c == '\\' && j + 1 < sql.length) j += 2
      else if (c == q && j + 1 < sql.length && sql.charAt(j + 1) == q) j += 2
      else if (c == q) return j + 1
      else j += 1
    }
    j
  }

  /** Index just past the comment starting at `i`, or `i` when sql(i) is
    * not a comment start. `--` runs to (and includes) the newline;
    * bracketed comments do not nest (ANSI).
    */
  def skipComment(sql: String, i: Int): Int =
    if (sql.startsWith("--", i)) {
      val nl = sql.indexOf('\n', i)
      if (nl < 0) sql.length else nl + 1
    } else if (sql.startsWith("/*", i)) {
      val end = sql.indexOf("*/", i + 2)
      if (end < 0) sql.length else end + 2
    } else i
}

/** Snowflake/DuckDB-style `QUALIFY <window predicate>` for top-level
  * SELECT/WITH queries — the keep-best-per-key idiom
  * (`QUALIFY row_number() OVER (PARTITION BY url ORDER BY quality DESC)
  * = 1`) that pipeline SQL leans on constantly. Spark's grammar has no
  * QUALIFY; the rewrite splices the standard expansion in TEXT, keeping
  * the stock parser authoritative for everything inside:
  *
  * {{{
  * <core> QUALIFY <pred> [<trailing>]
  *   ==>  WITH __q AS (<core>)
  *        SELECT * EXCEPT (__qualify) FROM
  *          (SELECT __q.*, (<pred>) AS __qualify FROM __q)
  *        WHERE __qualify <trailing>
  * }}}
  *
  * so the windows in `<pred>` evaluate over the select's result rows —
  * QUALIFY's semantics. The CTE form keeps `<core>` BEFORE `<pred>` in
  * the emitted text, so positional `?` parameter markers keep their
  * original order and `parsePlanWithParameters` binds them correctly.
  * Scope (documented limits, not silent wrongness — anything outside
  * scope keeps Spark's own parse error):
  *   - top-level queries starting with SELECT/WITH (no set operations at
  *     the top level; a `* EXCEPT (...)` projection — EXCEPT preceded by
  *     `*` — is recognized and not mistaken for the set op);
  *   - no top-level DISTINCT: Snowflake/DuckDB evaluate QUALIFY BEFORE
  *     DISTINCT, which this expansion cannot express, so such
  *     statements are left unrewritten rather than silently diverging;
  *   - the predicate references the select's OUTPUT columns (aliases
  *     included), the common shape — not unprojected base columns;
  *   - one QUALIFY per statement, outside any parentheses;
  *   - `__q` / `__qualify` are reserved names in rewritten statements.
  * The caller only applies the rewrite after the stock parse of the
  * original text fails, so an unquoted identifier named `qualify` keeps
  * working.
  */
object QualifyRewrite {

  private val Trailing = Set("ORDER", "SORT", "CLUSTER", "DISTRIBUTE",
    "LIMIT", "OFFSET")
  private val SetOps = Set("UNION", "INTERSECT", "MINUS")

  /** Depth-0 word occurrences outside quotes and comments:
    * (UPPER word, start, end).
    */
  private def scanWords(sql: String): Seq[(String, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var i = 0
    var depth = 0
    while (i < sql.length) {
      val afterComment = SqlText.skipComment(sql, i)
      if (afterComment > i) i = afterComment
      else sql.charAt(i) match {
        case '\'' | '"' | '`' => i = SqlText.skipQuoted(sql, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case ch if depth == 0 && (ch.isLetter || ch == '_') =>
          val start = i
          while (i < sql.length &&
            (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
          out += ((sql.substring(start, i).toUpperCase(java.util.Locale.ROOT),
            start, i))
        case _ => i += 1
      }
    }
    out.toSeq
  }

  /** The rewritten statement, or None when the text has no in-scope
    * top-level QUALIFY.
    */
  def apply(sql: String): Option[String] = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("QUALIFY")) return None
    val head = sql.dropWhile(_.isWhitespace).take(6).toUpperCase(java.util.Locale.ROOT)
    if (!head.startsWith("SELECT") && !head.startsWith("WITH")) return None
    val words = scanWords(sql)
    def isStarExcept(idx: Int): Boolean = {
      // the star-except PROJECTION is exactly `* EXCEPT (...)`; any
      // other EXCEPT at depth 0 is the set operation
      val before = sql.substring(0, words(idx)._2).reverse.dropWhile(_.isWhitespace)
      before.headOption.contains('*')
    }
    val hasSetOp = words.zipWithIndex.exists { case ((w, _, _), i) =>
      SetOps.contains(w) || (w == "EXCEPT" && !isStarExcept(i))
    }
    if (hasSetOp) return None
    // top-level DISTINCT changes QUALIFY's evaluation order (see scope)
    if (words.exists(_._1 == "DISTINCT")) return None
    val qs = words.filter(_._1 == "QUALIFY")
    if (qs.length != 1) return None
    val (_, qStart, qEnd) = qs.head
    val core = sql.substring(0, qStart).trim
    if (core.isEmpty) return None
    val trailStart = words.collectFirst {
      case (w, s, _) if s >= qEnd && Trailing.contains(w) => s
    }
    val pred = sql.substring(qEnd,
      trailStart.getOrElse(sql.length)).trim
    if (pred.isEmpty) return None
    val trail = trailStart.map(sql.substring(_)).getOrElse("")
    // the newlines before each spliced ')' matter: core/pred may END in
    // a `--` line comment, which would otherwise swallow the paren
    Some(
      s"WITH __q AS ($core\n) " +
        s"SELECT * EXCEPT (__qualify) FROM " +
        s"(SELECT __q.*, ($pred\n) AS __qualify FROM __q) " +
        s"WHERE __qualify $trail")
  }
}
