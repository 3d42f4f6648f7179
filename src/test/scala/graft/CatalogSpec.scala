package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Constraints
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowStore, MatViews, StoreOps}

/** One table catalog: the store registry is the only record of a graft
  * table, so every session — not just the one that created a table —
  * resolves it, mutates it and drops it through the same entry, and both
  * CREATE routes (SQL DDL and the DSv2 `graft` catalog) share one
  * COLOCATE_WITH rule and one DROP teardown.
  */
class CatalogSpec extends SparkTestBase {

  private def cleanup(names: String*): Unit =
    names.foreach(GraftSession(spark).dropTable)

  test("a second session resolves, mutates and drops the first session's tables") {
    val g = GraftSession(spark)
    g.sql("CREATE TABLE cat_row (k bigint primary key, v string check (length(v) > 0)) " +
      "USING row")
    g.insert("cat_row", spark.range(1, 11)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    g.createTable("cat_col", spark.range(0, 40)
      .select(col("id").as("k"), (col("id") % 5).as("g")),
      keyColumns = Seq("k"), partitionBy = Seq("k"), buckets = 4)
    val g2 = GraftSession(spark.newSession())
    try {
      assert(!g2.spark.catalog.tableExists("cat_row"), "no temp view in the second session")
      assert(g2.isManaged("cat_row") && g2.isManaged("cat_col"))
      assert(g2.tableState("cat_col").exists(l => l.numBuckets == 4 && l.bucketBy == Seq("k")))
      // bare-name DML from the session that did not create the tables
      g2.sql("PUT INTO cat_row VALUES (1, 'one'), (20, 'twenty')")
      g2.sql("UPDATE cat_row SET v = 'two' WHERE k = 2")
      g2.sql("DELETE FROM cat_row WHERE k = 3")
      // the CHECK holds on every write face of the second session
      Seq("PUT INTO cat_row VALUES (4, '')",
        "UPDATE cat_row SET v = '' WHERE k = 5",
        "INSERT INTO cat_row VALUES (30, '')").foreach { q =>
        val e = intercept[Exception](g2.sql(q))
        assert(e.getMessage.contains("CHECK constraint"), s"$q: ${e.getMessage}")
      }
      val rows = spark.table("graft.cat_row").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 10 && rows(1) == "one" && rows(2) == "two" &&
        !rows.contains(3L) && rows(4) == "v4" && rows(5) == "v5" && rows(20) == "twenty")
      g2.sql("CREATE INDEX cat_row_v ON cat_row (v)")
      assert(GraftRowStore("cat_row").snapshot.indexes.contains("v"))
      g2.sql("CREATE INDEX cat_col_g ON cat_col (g)")
      assert(GraftColumnStore("cat_col").snapshot.sortedBy == Seq("g"))
      g2.sql("UPDATE cat_col SET g = 9 WHERE k = 7")
      g2.sql("DELETE FROM cat_col WHERE k < 5")
      assert(g2.table("cat_col").filter(col("g") === 9).count() == 1)
      assert(g2.table("cat_col").count() == 35)
      g2.sql("TRUNCATE TABLE cat_col")
      assert(spark.table("graft.cat_col").count() == 0)
      val listed = g2.tableStats.collect().map(_.getString(0)).toSet
      assert(Set("cat_row", "cat_col").subsetOf(listed), listed)
      g2.dropTable("cat_row")
      g2.dropTable("cat_col")
      assert(StoreOps.forTable("cat_row").isEmpty && StoreOps.forTable("cat_col").isEmpty)
      assert(Constraints.get("cat_row").isEmpty)
    } finally cleanup("cat_row", "cat_col")
  }

  test("a CREATE whose schema the store cannot hold fails and registers nothing") {
    val g = GraftSession(spark)
    val withInterval = spark.range(3).select(col("id").as("k"),
      expr("make_dt_interval(0, 0, 0, id)").as("iv"))
    Seq("column", "row").foreach { provider =>
      val e = intercept[IllegalArgumentException](
        g.createTable("cat_iv", withInterval, provider = provider))
      assert(e.getMessage.contains("column iv has unsupported type"), e.getMessage)
      assert(!g.isManaged("cat_iv") && StoreOps.forTable("cat_iv").isEmpty, provider)
      assert(!spark.catalog.tableExists("cat_iv"), provider)
    }
  }

  test("DROP TABLE graft.t runs the session teardown") {
    val g = GraftSession(spark)
    g.sql("CREATE TABLE cat_dck (k bigint primary key, v string check (length(v) > 0)) " +
      "USING row")
    g.sql("INSERT INTO cat_dck VALUES (1, 'a')")
    g.createTable("cat_dmv", spark.range(20).select((col("id") % 4).as("k"), col("id").as("v")))
    g.sql("CREATE MATERIALIZED VIEW cat_dmv_sum AS SELECT k, sum(v) AS sv FROM cat_dmv GROUP BY k")
    try {
      assert(Constraints.get("cat_dck").isDefined && MatViews.isMatView("cat_dmv_sum"))
      spark.sql("DROP TABLE graft.cat_dck")
      spark.sql("DROP TABLE graft.cat_dmv")
      assert(g.sysMatviews.filter(col("base_table").contains("cat_dmv")).isEmpty,
        "a dropped base takes its views with it")
      assert(StoreOps.forTable("cat_dmv_sum").isEmpty)
      assert(Constraints.get("cat_dck").isEmpty)
      assert(!spark.catalog.tableExists("cat_dck"), "the session's temp view goes too")
      // a DSv2 re-create under the dropped name starts without the old CHECK
      spark.sql("CREATE TABLE graft.cat_dck (k bigint, v string)")
      spark.sql("INSERT INTO graft.cat_dck VALUES (2, '')")
      assert(spark.table("graft.cat_dck").count() == 1)
    } finally cleanup("cat_dmv_sum", "cat_dck", "cat_dmv")
  }

  test("COLOCATE_WITH: one rule over the SQL DDL and the DSv2 catalog route") {
    val g = GraftSession(spark)
    g.createTable("cat_co_col", spark.range(16).select(col("id").as("k"), col("id").as("v")),
      partitionBy = Seq("k"), buckets = 8)
    g.createTable("cat_co_row", spark.range(16).select(col("id").as("k"), col("id").as("v")),
      keyColumns = Seq("k"), partitionBy = Seq("k"), buckets = 8, provider = "row")
    g.createTable("cat_co_flat", spark.range(4).select(col("id").as("k")))
    // (child bucketing clause, target, expected outcome: Right(bucket
    // columns, count) or Left(error fragment))
    val cases: Seq[(String, Option[(Seq[String], Int)], String, Either[String, (Seq[String], Int)])] =
      Seq(
        ("inherited from a column table", None, "cat_co_col", Right((Seq("k"), 8))),
        ("inherited from a row table", None, "cat_co_row", Right((Seq("k"), 8))),
        ("own column, matching count", Some((Seq("cv"), 8)), "cat_co_col",
          Right((Seq("cv"), 8))),
        ("bucket-count mismatch", Some((Seq("ck"), 4)), "cat_co_col",
          Left("4 buckets cannot colocate with 'cat_co_col' (8 buckets)")),
        ("arity mismatch", Some((Seq("ck", "cv"), 8)), "cat_co_row",
          Left("bucket column arity 2 cannot colocate with 'cat_co_row' (1 columns)")),
        ("unbucketed target", None, "cat_co_flat",
          Left("COLOCATE_WITH 'cat_co_flat' is not bucketed")),
        ("unknown target", None, "cat_co_none",
          Left("COLOCATE_WITH 'cat_co_none' is not a managed table")))
    // an inherited layout takes the target's bucket column by name, so
    // every child has a column `k`
    def routes(i: Int, bucketing: Option[(Seq[String], Int)], target: String) = Seq(
      "sql" -> { () =>
        val opts = bucketing.map { case (cs, n) =>
          s"partition_by '${cs.mkString(",")}', buckets '$n', " }.getOrElse("")
        g.sql(s"CREATE TABLE cat_co_s$i (k bigint, ck bigint, cv bigint) USING column " +
          s"OPTIONS (${opts}colocate_with '$target')")
        s"cat_co_s$i"
      },
      "dsv2" -> { () =>
        val parts = bucketing.map { case (cs, n) =>
          s"PARTITIONED BY (bucket($n, ${cs.mkString(", ")})) " }.getOrElse("")
        spark.sql(s"CREATE TABLE graft.cat_co_d$i (k bigint, ck bigint, cv bigint) " +
          s"USING graft ${parts}OPTIONS (colocate_with '$target')")
        s"cat_co_d$i"
      })
    try {
      for (((label, bucketing, target, want), i) <- cases.zipWithIndex;
           (route, create) <- routes(i, bucketing, target)) {
        want match {
          case Right((by, n)) =>
            val child = create()
            val l = g.tableState(child).get
            assert(l.bucketBy == by && l.numBuckets == n, s"$label via $route: $l")
          case Left(fragment) =>
            val e = intercept[Exception](create())
            assert(e.getMessage.contains(fragment), s"$label via $route: ${e.getMessage}")
            assert(StoreOps.forTable(s"cat_co_s$i").isEmpty &&
              StoreOps.forTable(s"cat_co_d$i").isEmpty, s"$label via $route left a table")
        }
      }
    } finally {
      cases.indices.foreach(i => cleanup(s"cat_co_s$i", s"cat_co_d$i"))
      cleanup("cat_co_col", "cat_co_row", "cat_co_flat")
    }
  }

  test("a DSv2 CREATE keeps its TBLPROPERTIES layout through the first INSERT") {
    // (table property, value, what the snapshot holds after the INSERT)
    val cases: Seq[(String, String, String => Any, Any)] = Seq(
      ("batch_size", "512", t => GraftColumnStore(t).snapshot.batchSize, 512),
      ("compression", "lz4", t => GraftColumnStore(t).snapshot.compression, "lz4"),
      ("sort_by", "k", t => GraftColumnStore(t).snapshot.sortedBy, Seq("k")),
      ("rollup_threshold", "3", t => GraftColumnStore.rollupThreshold(t), 3))
    val props = cases.map { case (k, v, _, _) => s"'$k'='$v'" }.mkString(", ")
    spark.sql(s"CREATE TABLE graft.cat_lay (k BIGINT, v BIGINT) TBLPROPERTIES ($props)")
    try {
      spark.sql("INSERT INTO graft.cat_lay VALUES (3, 30), (1, 10), (2, 20)")
      for ((key, _, of, want) <- cases)
        assert(of("cat_lay") == want, s"$key after the INSERT: ${of("cat_lay")}")
      assert(spark.table("graft.cat_lay").count() == 3)
    } finally cleanup("cat_lay")
  }

  test("CREATE TABLE graft.t USING row makes a keyed row table, as the SQL DDL route does") {
    val g = GraftSession(spark)
    val routes = Seq(
      "graft.cat_dsrow" -> (() => spark.sql("CREATE TABLE graft.cat_dsrow (k BIGINT, v BIGINT) " +
        "USING row TBLPROPERTIES ('key_columns'='k')")),
      "cat_sqlrow" -> (() => g.sql("CREATE TABLE cat_sqlrow (k bigint primary key, v bigint) " +
        "USING row")))
    try {
      for ((name, create) <- routes) {
        val t = name.stripPrefix("graft.")
        create()
        assert(GraftRowStore.get(t).isDefined && GraftColumnStore.get(t).isEmpty, name)
        assert(GraftRowStore(t).snapshot.keyColumns == Seq("k"), name)
        spark.sql(s"INSERT INTO $name VALUES (1, 10)")
        val e = intercept[Exception](spark.sql(s"INSERT INTO $name VALUES (1, 11)"))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(c =>
          c.getMessage != null && c.getMessage.contains("primary key already exists")), e.toString)
        assert(spark.table(s"graft.$t").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
          Seq((1L, 10L)), name)
      }
    } finally cleanup("cat_dsrow", "cat_sqlrow")
  }
}
