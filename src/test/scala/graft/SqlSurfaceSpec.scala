package graft

import org.apache.spark.sql.functions._

/** The Snappy-specific SQL statement surface end-to-end: CREATE TABLE
  * USING column AS, PUT INTO, UPDATE, DELETE, policies, session APIs.
  */
case class Line(l_orderkey: Long, l_quantity: Double, l_returnflag: String)

/** Loaded by CREATE FUNCTION ... AS (reflection target). */
class TwiceUdf extends org.apache.spark.sql.api.java.UDF1[java.lang.Long, java.lang.Long] {
  override def call(x: java.lang.Long): java.lang.Long =
    if (x == null) null else java.lang.Long.valueOf(x * 2)
}

class SqlSurfaceSpec extends SparkTestBase {

  private lazy val g = GraftSession(spark)

  test("create table / put into / update / delete via SQL text") {
    Tables.registerAll(spark, sf)
    g.sql("CREATE TABLE sql_t USING column OPTIONS (key_columns 'o_orderkey', " +
      "partition_by 'o_orderkey', buckets '4') AS SELECT * FROM orders")
    val n0 = g.table("sql_t").count()
    assert(n0 == 1500)

    // PUT INTO: replace 10 rows, add 5 new keys
    g.sql("PUT INTO sql_t SELECT o_orderkey, o_custkey, 'Z' AS o_orderstatus, " +
      "o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey < 10")
    g.sql("PUT INTO sql_t SELECT o_orderkey + 5000000, o_custkey, 'N', " +
      "o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey < 5")
    assert(g.table("sql_t").count() == n0 + 5)
    assert(g.table("sql_t").filter(col("o_orderstatus") === "Z").count() == 10)

    g.sql("UPDATE sql_t SET o_totalprice = o_totalprice * 2 WHERE o_orderstatus = 'Z'")
    val doubled = g.table("sql_t").filter(col("o_orderstatus") === "Z")
      .agg(sum("o_totalprice")).head().getDouble(0)
    val orig = spark.table("orders").filter(col("o_orderkey") < 10)
      .agg(sum("o_totalprice")).head().getDouble(0)
    assert(math.abs(doubled - orig * 2) < 1e-6)

    g.sql("DELETE FROM sql_t WHERE o_orderstatus = 'Z'")
    assert(g.table("sql_t").filter(col("o_orderstatus") === "Z").count() == 0)
    g.dropTable("sql_t")
  }

  test("CREATE TABLE LIKE clones schema and layout, starts empty") {
    Tables.registerAll(spark, sf)
    g.sql("CREATE TABLE like_src USING column OPTIONS (key_columns 'o_orderkey', " +
      "partition_by 'o_orderkey', buckets '4') AS SELECT * FROM orders")
    g.sql("CREATE TABLE like_dst LIKE like_src")
    assert(g.table("like_dst").count() == 0)
    assert(g.table("like_dst").schema == g.table("like_src").schema)
    // layout replicated → the clone colocates with the original
    val ts = g.tableState("like_dst").get
    assert(ts.partitionBy == Seq("o_orderkey") && ts.buckets == 4 &&
      ts.keyColumns == Seq("o_orderkey"))
    // the clone is a live managed table: keyed DML works immediately
    g.sql("PUT INTO like_dst SELECT * FROM orders WHERE o_orderkey < 10")
    assert(g.table("like_dst").count() == 10)
    // LIKE over an unmanaged view clones just the schema
    g.sql("CREATE TABLE like_plain LIKE orders")
    assert(g.table("like_plain").count() == 0)
    assert(g.table("like_plain").schema == spark.table("orders").schema)
    g.dropTable("like_src"); g.dropTable("like_dst"); g.dropTable("like_plain")
  }

  test("parser handles quoted identifiers, subqueries in WHERE, commas in SET") {
    Tables.registerAll(spark, sf)
    // all statements through PLAIN spark.sql — the injected parser, not
    // the GraftSql facade
    spark.sql("CREATE TABLE parse_t USING column OPTIONS (key_columns 'o_orderkey') " +
      "AS SELECT * FROM orders")
    val g2 = GraftSession(spark)
    assert(g2.table("parse_t").count() == 1500)

    // subquery in WHERE (the old regex dispatcher choked on these)
    spark.sql("UPDATE `parse_t` SET o_totalprice = round(o_totalprice * 2, 2), " +
      "o_orderstatus = 'X' " +
      "WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 1)")
    val nUpdated = g2.table("parse_t").filter(col("o_orderstatus") === "X").count()
    val nExpected = spark.sql("SELECT count(*) FROM orders WHERE o_custkey IN " +
      "(SELECT c_custkey FROM customer WHERE c_nationkey = 1)").head().getLong(0)
    assert(nUpdated == nExpected && nUpdated > 0)

    // DELETE with a scalar subquery comparison
    spark.sql("DELETE FROM parse_t WHERE o_totalprice > " +
      "(SELECT avg(o_totalprice) * 3 FROM orders)")
    assert(g2.table("parse_t").count() < 1500)

    // PUT INTO ... VALUES (reference putValuesOperation) — positional
    spark.sql("PUT INTO parse_t VALUES (9999991, 1, 'V', 1.0, TIMESTAMP '1996-01-01', 'LOW'), " +
      "(9999992, 2, 'V', 2.0, TIMESTAMP '1996-01-02', 'LOW')")
    assert(g2.table("parse_t").filter(col("o_orderstatus") === "V").count() == 2)
    g2.dropTable("parse_t")
  }

  test("TRUNCATE TABLE empties but keeps layout; unmanaged names delegate") {
    Tables.registerAll(spark, sf)
    g.sql("CREATE TABLE trunc_t USING column OPTIONS (key_columns 's_suppkey', " +
      "partition_by 's_suppkey', buckets '4') AS SELECT * FROM supplier")
    assert(g.table("trunc_t").count() > 0)
    spark.sql("TRUNCATE TABLE trunc_t") // through the injected parser
    assert(g.table("trunc_t").count() == 0)
    // layout survives: inserts and keyed upserts still work post-truncate
    g.sql("PUT INTO trunc_t SELECT * FROM supplier WHERE s_suppkey <= 3")
    assert(g.table("trunc_t").count() ==
      spark.table("supplier").filter(col("s_suppkey") <= 3).count())
    g.dropTable("trunc_t")
    // a TRUNCATE on a non-managed identifier flows to Spark's own parser
    intercept[Exception] { spark.sql("TRUNCATE TABLE no_such_graft_table") }
  }

  test("ALTER TABLE ADD/DROP COLUMN via SQL") {
    val g2 = GraftSession(spark)
    g2.createTable("alt_t", Tables.load(spark, sf, "supplier"),
      keyColumns = Seq("s_suppkey"))
    spark.sql("ALTER TABLE alt_t ADD COLUMN note STRING")
    assert(g2.table("alt_t").columns.contains("note"))
    assert(g2.table("alt_t").filter(col("note").isNull).count() ==
      g2.table("alt_t").count(), "added column starts all-null")
    // the new column is mutable like any other
    spark.sql("UPDATE alt_t SET note = 'flagged' WHERE s_suppkey < 5")
    assert(g2.table("alt_t").filter(col("note") === "flagged").count() ==
      Tables.load(spark, sf, "supplier").filter(col("s_suppkey") < 5).count())
    spark.sql("ALTER TABLE alt_t DROP COLUMN note")
    assert(!g2.table("alt_t").columns.contains("note"))
    // key column protected
    intercept[IllegalArgumentException] {
      spark.sql("ALTER TABLE alt_t DROP COLUMN s_suppkey")
    }
    g2.dropTable("alt_t")
  }

  test("CREATE SAMPLE TABLE SQL + WITH ERROR routes through it") {
    Tables.registerAll(spark, sf)
    val g2 = GraftSession(spark)
    spark.sql("CREATE SAMPLE TABLE li_sql_sample ON lineitem OPTIONS " +
      "(qcs 'l_returnflag,l_linestatus', fraction '0.1', " +
      "strataReservoirSize '30', rankKey 'l_orderkey,l_linenumber')")
    try {
      assert(g2.table("li_sql_sample").columns.contains("_weight"))
      val approx = g2.sql("SELECT l_returnflag, count(*) AS n FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag WITH ERROR 0.1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = spark.table("lineitem").groupBy("l_returnflag").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(approx == exact, "HT count over the SQL-created sample must be exact")
    } finally {
      g2.samples.remove("lineitem")
      g2.dropTable("li_sql_sample")
    }
  }

  test("CREATE/DROP POLICY via plain spark.sql") {
    Tables.registerAll(spark, sf)
    val g2 = GraftSession(spark)
    g2.createTable("pol_t", Tables.load(spark, sf, "supplier"))
    spark.sql("CREATE POLICY pol_low ON pol_t TO analyst USING s_nationkey < 5")
    // policies attach at name resolution — query through SQL, like users do
    def maxNation(): Long =
      spark.sql("SELECT max(s_nationkey) FROM pol_t").head().getAs[Number](0).longValue()
    try {
      g2.setCurrentUser("analyst")
      assert(maxNation() < 5)
      g2.setCurrentUser("admin_x")
      assert(maxNation() >= 5)
      spark.sql("DROP POLICY pol_low")
      g2.setCurrentUser("analyst")
      assert(maxNation() >= 5)
    } finally {
      g2.setCurrentUser("admin_x")
      g2.dropTable("pol_t")
    }
  }

  test("sample table + approx ts topk session APIs") {
    val ev = Tables.load(spark, sf, "events")
    g.createSampleTable("ev_sample", ev, qcs = Seq("event_type"),
      fraction = 0.2, reservoirFloor = 10, rankKey = Seq("event_id"))
    val kept = g.table("ev_sample")
    assert(kept.count() > 0 && kept.columns.contains("_weight"))

    g.createApproxTSTopK("ev_topk", ev, keyCol = "user_id", tsCol = "ts",
      timeInterval = "6 hours", k = 3)
    assert(g.table("ev_topk").count() > 0)
    val merged = g.queryApproxTSTopK("ev_topk", "2024-01-01 00:00:00",
      "2024-02-01 00:00:00", 3).collect()
    assert(merged.length == 3)
    g.dropTable("ev_sample"); g.dropTable("ev_topk")
  }

  test("dsid and current_schema SQL functions") {
    val r = spark.sql("SELECT dsid() AS d, current_schema() AS s FROM range(1)").head()
    assert(r.getInt(0) >= 0 && r.getString(1) == "default")
  }

  test("scala UDF / UDAF registration surface (stock Spark, sanity check)") {
    spark.udf.register("plus_one", (x: Long) => x + 1)
    assert(spark.sql("SELECT plus_one(41)").head().getLong(0) == 42L)
    import org.apache.spark.sql.expressions.Aggregator
    import org.apache.spark.sql.Encoders
    val geoMean = new Aggregator[Double, (Double, Long), Double] {
      def zero = (0.0, 0L)
      def reduce(b: (Double, Long), a: Double) = (b._1 + math.log(a), b._2 + 1)
      def merge(x: (Double, Long), y: (Double, Long)) = (x._1 + y._1, x._2 + y._2)
      def finish(b: (Double, Long)) = math.exp(b._1 / b._2)
      def bufferEncoder = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
      def outputEncoder = Encoders.scalaDouble
    }
    spark.udf.register("geo_mean", org.apache.spark.sql.functions.udaf(geoMean))
    Tables.registerAll(spark, sf)
    val gm = spark.sql("SELECT geo_mean(l_quantity) FROM lineitem").head().getDouble(0)
    assert(gm > 1 && gm < 50)
  }

  test("typed Dataset API (EncoderScanExec analog)") {
    import spark.implicits._
    val ds = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag").as[Line]
    val byFlag = ds.groupByKey(_.l_returnflag)
      .mapValues(_.l_quantity).reduceGroups(_ + _).collect().toMap
    val oracle = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    byFlag.foreach { case (k, v) => assert(math.abs(v - oracle(k)) < 1e-6) }
  }

  test("verbatim reference DDL: schema-ful CREATE TABLE + ops options accepted") {
    val g = GraftSession(spark)
    // a CREATE TABLE lifted from the reference's docs: explicit schema,
    // no AS SELECT, GemFire operational options — must parse, create an
    // empty store-backed table, and warn-and-continue on the ops options.
    // DISKSTORE is honored now (r8), so — exactly like the reference —
    // the named store must exist before a table can target it
    val dsDir = tempDir("graft-ddlp-")
    g.sql(s"CREATE DISKSTORE IF NOT EXISTS ds1 ('$dsDir')")
    g.sql("""CREATE TABLE ddl_parity (
      |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
      |USING column OPTIONS (
      |  PARTITION_BY 'o_custkey', BUCKETS '8',
      |  REDUNDANCY '1', PERSISTENCE 'ASYNCHRONOUS',
      |  EVICTION_BY 'LRUHEAPPERCENT', OVERFLOW 'true',
      |  EXPIRE '3600', DISKSTORE 'ds1')""".stripMargin)
    assert(g.isManaged("ddl_parity") && g.isStoreBacked("ddl_parity"))
    assert(g.table("ddl_parity").count() == 0)
    assert(g.table("ddl_parity").schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    g.insert("ddl_parity", Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice").limit(100))
    assert(g.table("ddl_parity").count() == 100)
    g.dropTable("ddl_parity")
    g.sql("DROP DISKSTORE ds1")
  }

  test("CREATE FUNCTION ... AS class RETURNS type registers a session UDF") {
    g.sql("CREATE FUNCTION g_twice AS graft.TwiceUdf RETURNS BIGINT")
    Tables.registerAll(spark, sf)
    val got = spark.sql(
      "SELECT g_twice(o_orderkey) AS d FROM orders ORDER BY o_orderkey LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    val exp = Tables.load(spark, sf, "orders").orderBy("o_orderkey")
      .limit(3).collect().map(_.getAs[Long]("o_orderkey") * 2).toSeq
    assert(got == exp)
    // a class that is no UDF fails with a pointed message
    val ex = intercept[Exception] {
      g.sql("CREATE FUNCTION g_bad AS java.lang.Object RETURNS BIGINT")
    }
    assert(ex.getMessage.contains("unsupported class"))
  }

  test("UPDATE/DELETE on an external (unmanaged view) table swap the view") {
    val dir = tempDir("graft_ext").toFile
    Tables.load(spark, sf, "supplier").write.mode("overwrite")
      .parquet(dir.getAbsolutePath)
    spark.read.parquet(dir.getAbsolutePath).createOrReplaceTempView("ext_supp")
    try {
      assert(!g.isManaged("ext_supp"))
      g.sql("UPDATE ext_supp SET s_acctbal = 0.0 WHERE s_nationkey < 5")
      g.sql("DELETE FROM ext_supp WHERE s_nationkey = 24")
      val got = spark.table("ext_supp").orderBy("s_suppkey").collect()
      val supp = Tables.load(spark, sf, "supplier")
      val exp = supp
        .withColumn("s_acctbal",
          when(col("s_nationkey") < 5, 0.0).otherwise(col("s_acctbal")))
        .filter(col("s_nationkey") =!= 24)
        .orderBy("s_suppkey").collect()
      assert(got.toSeq == exp.toSeq)
      // the underlying files are untouched (view-tier DML only)
      assert(spark.read.parquet(dir.getAbsolutePath).count() == supp.count())
    } finally spark.catalog.dropTempView("ext_supp")
  }

  test("repeated external DML keeps the view plan depth bounded") {
    val dir = tempDir("graft_ext_chain").toFile
    Tables.load(spark, sf, "supplier").write.mode("overwrite")
      .parquet(dir.getAbsolutePath)
    spark.read.parquet(dir.getAbsolutePath).createOrReplaceTempView("ext_chain")
    try {
      def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
        1 + (if (p.children.isEmpty) 0 else p.children.map(depth).max)
      (1 to 10).foreach { k =>
        spark.sql(s"UPDATE ext_chain SET s_acctbal = s_acctbal + 1.0 WHERE s_suppkey >= $k")
      }
      // without chain capping this plan is ~10 projections deep; the
      // checkpoint every maxChain ops bounds it
      val d = depth(spark.table("ext_chain").queryExecution.analyzed)
      assert(d <= 3 * org.apache.spark.sql.graft.parser.GraftExternalDml.maxChain,
        s"external-DML view plan depth must stay bounded, got $d")
      // semantics intact: row k was incremented once per statement with
      // threshold <= its key (keys 0..N-1; statement k hits keys >= k)
      val got = spark.table("ext_chain")
        .select(col("s_suppkey"), col("s_acctbal")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val exp = Tables.load(spark, sf, "supplier")
        .select(col("s_suppkey"), col("s_acctbal")).collect()
          .map(r => r.getLong(0) -> (r.getDouble(1) + math.min(r.getLong(0), 10L)))
          .toMap
      exp.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9, s"key $k") }
    } finally spark.catalog.dropTempView("ext_chain")
  }

  test("UPDATE/DELETE on a persistent file-source catalog table: copy-on-write") {
    val wh = tempDir("graft_cow").toFile
    Tables.load(spark, sf, "supplier").write.mode("overwrite")
      .option("path", new java.io.File(wh, "cat_supp").getAbsolutePath)
      .saveAsTable("cat_supp")
    try {
      assert(!spark.catalog.getTable("cat_supp").isTemporary)
      g.sql("UPDATE cat_supp SET s_acctbal = 0.0 WHERE s_nationkey < 5")
      g.sql("DELETE FROM cat_supp WHERE s_nationkey = 24")
      val got = spark.table("cat_supp").orderBy("s_suppkey").collect()
      val exp = Tables.load(spark, sf, "supplier")
        .withColumn("s_acctbal",
          when(col("s_nationkey") < 5, 0.0).otherwise(col("s_acctbal")))
        .filter(col("s_nationkey") =!= 24)
        .orderBy("s_suppkey").collect()
      assert(got.toSeq == exp.toSeq)
      // CoW persists: a FRESH scan of the catalog table (new plan, no
      // view tier) sees the mutation
      assert(spark.sql("SELECT count(*) FROM cat_supp WHERE s_nationkey = 24")
        .head().getLong(0) == 0)
    } finally spark.sql("DROP TABLE IF EXISTS cat_supp")
  }

  test("stream WINDOW (DURATION, SLIDE) clause rewrites to window() grouping") {
    import java.nio.file.Files
    val dir = tempDir("graft_win").toFile
    Files.writeString(new java.io.File(dir, "a.json").toPath,
      """{"ts": "2026-01-01T00:00:05.000Z", "v": 1.0}
        |{"ts": "2026-01-01T00:00:15.000Z", "v": 2.0}
        |{"ts": "2026-01-01T00:00:25.000Z", "v": 4.0}""".stripMargin)
    spark.sql(s"CREATE STREAM TABLE s_win (ts TIMESTAMP, v DOUBLE) USING json " +
      s"OPTIONS (path '${dir.getAbsolutePath}')")
    val agg = spark.sql(
      "SELECT window, sum(v) AS total FROM s_win " +
        "WINDOW (DURATION 10 SECONDS) GROUP BY window")
    assert(agg.isStreaming)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("s_win_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("s_win_out")
        .selectExpr("window.start", "total").collect()
        .map(r => r.getTimestamp(0).toInstant.toString -> r.getDouble(1)).toMap
      assert(got == Map(
        "2026-01-01T00:00:00Z" -> 1.0,
        "2026-01-01T00:00:10Z" -> 2.0,
        "2026-01-01T00:00:20Z" -> 4.0), s"got $got")
    } finally {
      q.stop()
      spark.catalog.dropTempView("s_win")
    }
  }

  test("stream WINDOW clause with SLIDE yields overlapping windows") {
    import java.nio.file.Files
    val dir = tempDir("graft_win2").toFile
    Files.writeString(new java.io.File(dir, "a.json").toPath,
      """{"ts": "2026-01-01T00:00:05.000Z", "v": 1.0}
        |{"ts": "2026-01-01T00:00:12.000Z", "v": 2.0}""".stripMargin)
    spark.sql(s"CREATE STREAM TABLE s_win2 (ts TIMESTAMP, v DOUBLE) USING json " +
      s"OPTIONS (path '${dir.getAbsolutePath}')")
    val agg = spark.sql(
      "SELECT window, sum(v) AS total FROM s_win2 " +
        "WINDOW (DURATION 10 SECONDS, SLIDE 5 SECONDS) GROUP BY window")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("s_win2_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("s_win2_out")
        .selectExpr("window.start", "total").collect()
        .map(r => r.getTimestamp(0).toInstant.toString -> r.getDouble(1)).toMap
      // each event lands in TWO sliding windows
      assert(got == Map(
        "2026-01-01T00:00:00Z" -> 1.0,
        "2026-01-01T00:00:05Z" -> 3.0,
        "2026-01-01T00:00:10Z" -> 2.0), s"got $got")
    } finally {
      q.stop()
      spark.catalog.dropTempView("s_win2")
    }
  }

  test("tableStats: SYS.TABLESTATS analog reports metadata-only live stats") {
    g.createTable("ts_col", Tables.load(spark, sf, "orders"),
      keyColumns = Seq("o_orderkey"), partitionBy = Seq("o_orderkey"), buckets = 4)
    g.createTable("ts_row", Tables.load(spark, sf, "supplier"),
      keyColumns = Seq("s_suppkey"), provider = "row")
    try {
      val stats = g.tableStats.collect()
        .map(r => r.getString(0) -> r).toMap
      val colRow = stats("ts_col")
      assert(colRow.getString(1) == "column")
      assert(colRow.getLong(2) == Tables.load(spark, sf, "orders").count())
      assert(colRow.getLong(3) > 0 && colRow.getLong(4) > 0)
      assert(colRow.getInt(5) == 4 && colRow.getString(6) == "o_orderkey")
      val rowRow = stats("ts_row")
      assert(rowRow.getString(1) == "row")
      assert(rowRow.getLong(2) == Tables.load(spark, sf, "supplier").count())
      // stats track mutation
      g.delete("ts_row", col("s_nationkey") === 0)
      val after = g.tableStats.filter(col("table_name") === "ts_row")
        .head().getLong(2)
      assert(after == Tables.load(spark, sf, "supplier")
        .filter(col("s_nationkey") =!= 0).count())
    } finally { g.dropTable("ts_col"); g.dropTable("ts_row") }
  }

  test("sys schema: SELECT * FROM sys.<vti> resolves live metadata relations") {
    g.createTable("sys_col", Tables.load(spark, sf, "supplier"),
      keyColumns = Seq("s_suppkey"), partitionBy = Seq("s_suppkey"), buckets = 4)
    try {
      // tablestats over SQL, LIVE: re-query after a mutation sees it
      val n0 = spark.sql(
        "SELECT row_count FROM sys.tablestats WHERE table_name = 'sys_col'")
        .head().getLong(0)
      assert(n0 == Tables.load(spark, sf, "supplier").count())
      g.delete("sys_col", col("s_suppkey") === 1)
      val n1 = spark.sql(
        "SELECT row_count FROM sys.tablestats WHERE table_name = 'sys_col'")
        .head().getLong(0)
      assert(n1 == n0 - 1)
      // members: at least the local driver member, sane storage totals
      val members = spark.sql("SELECT * FROM sys.members").collect()
      assert(members.nonEmpty)
      assert(members.forall(_.getLong(5) > 0))
      // indexes: the primary key row is present
      val idx = spark.sql(
        "SELECT index_name, columns FROM sys.indexes WHERE table_name = 'sys_col'")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(idx.contains(("primary_key", "s_suppkey")))
      // policies: a created policy appears with its filter and grantees
      spark.sql("CREATE POLICY sys_pol ON sys_col USING s_nationkey < 5")
      val pol = spark.sql(
        "SELECT table_name, filter_sql FROM sys.policies WHERE policy_name = 'sys_pol'")
        .collect()
      assert(pol.length == 1 && pol.head.getString(0) == "sys_col" &&
        pol.head.getString(1).toLowerCase.contains("s_nationkey"))
      spark.sql("DROP POLICY sys_pol")
      assert(spark.sql("SELECT * FROM sys.policies " +
        "WHERE policy_name = 'sys_pol'").isEmpty)
      // samples / sinkstate: resolvable with the documented schemas
      assert(spark.sql("SELECT sample_table, base_table, qcs, fraction, " +
        "reservoir_floor, is_fresh FROM sys.samples").columns.length == 6)
      assert(spark.sql("SELECT query_name, table_name, batch_id " +
        "FROM sys.sinkstate").columns.length == 3)
      assert(spark.sql("SELECT name, mode, epoch, root, pinned, owner_session " +
        "FROM sys.replicas").columns.length == 6) // empty-safe
      // queries: the executions above land in the ring buffer (listener
      // delivery is async — poll briefly)
      var qrows = Array.empty[org.apache.spark.sql.Row]
      val deadline = System.currentTimeMillis() + 10000
      while (qrows.isEmpty && System.currentTimeMillis() < deadline) {
        qrows = spark.sql("SELECT op, duration_ms, root_plan FROM sys.queries " +
          "WHERE status = 'success'").collect()
        if (qrows.isEmpty) Thread.sleep(100)
      }
      assert(qrows.nonEmpty)
      // unknown sys names keep the stock resolver error
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT * FROM sys.nope").collect()
      }
      assert(err.getMessage.toLowerCase.contains("nope"))
    } finally g.dropTable("sys_col")
  }

  test("QUALIFY: window predicate filters like Snowflake/DuckDB") {
    import spark.implicits._
    Seq((1L, "a", 10), (2L, "a", 20), (3L, "a", 30), (4L, "b", 5), (5L, "b", 50))
      .toDF("id", "k", "v").createOrReplaceTempView("qal")
    try {
      // keep-best-per-key
      val best = spark.sql(
        """SELECT id, k, v FROM qal
          |QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) = 1
          |ORDER BY k""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      assert(best.toSeq === Seq((3L, "a", 30), (5L, "b", 50)))
      // CTE prefix + select alias in the predicate + LIMIT trailing
      val cte = spark.sql(
        """WITH w AS (SELECT id, k, v * 2 AS vv FROM qal)
          |SELECT id, k, vv FROM w
          |QUALIFY rank() OVER (PARTITION BY k ORDER BY vv) <= 2
          |ORDER BY k, vv LIMIT 3""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      assert(cte.toSeq === Seq((1L, "a", 20), (2L, "a", 40), (4L, "b", 10)))
      // star-except projection is not mistaken for the set operation
      val se = spark.sql(
        """SELECT * EXCEPT (v) FROM qal
          |QUALIFY row_number() OVER (ORDER BY id DESC) = 1""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(se.toSeq === Seq((5L, "b")))
      // an identifier literally named qualify keeps the stock parse
      assert(spark.sql("SELECT 7 AS qualify").head().getInt(0) == 7)
      // top-level set ops stay out of scope: stock parse error surfaces
      intercept[Exception] {
        spark.sql("SELECT id FROM qal QUALIFY row_number() OVER (ORDER BY id) = 1 " +
          "UNION SELECT id FROM qal")
      }
      // ... including the parenthesized set-op right side (NOT mistaken
      // for a star-except projection)
      intercept[Exception] {
        spark.sql("SELECT id FROM qal EXCEPT (SELECT id FROM qal) " +
          "QUALIFY row_number() OVER (ORDER BY id) = 1")
      }
      // top-level DISTINCT evaluates in a different order in the engines
      // QUALIFY mimics — refused, not silently diverged
      intercept[Exception] {
        spark.sql("SELECT DISTINCT k FROM qal " +
          "QUALIFY row_number() OVER (ORDER BY k) = 1")
      }
      // comments are opaque: keywords and apostrophes inside them don't
      // derail the scanner
      val cm = spark.sql(
        """SELECT id, k, v FROM qal -- driver's pick, see union notes
          |QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1
          |  -- limit to winners
          |ORDER BY k""".stripMargin).collect().map(_.getLong(0))
      assert(cm.toSeq === Seq(3L, 5L))
      // positional parameters bind in their original order (the CTE-form
      // expansion keeps core text before predicate text)
      val pp = spark.sql(
        "SELECT id, k, v FROM qal WHERE v > ? " +
          "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) <= ? " +
          "ORDER BY id",
        Array(5, 1)).collect().map(_.getLong(0))
      assert(pp.toSeq === Seq(3L, 5L))
    } finally spark.catalog.dropTempView("qal")
  }

  test("CHAR/VARCHAR columns: DDL create, padding semantics, catalog listing") {
    import spark.implicits._
    g.sql("CREATE TABLE chartab (code CHAR(4), name VARCHAR(10), v DOUBLE) USING column")
    assert(g.isStoreBacked("chartab"))
    g.insert("chartab", Seq(("AB", "hello", 1.0), ("CDEF", "world", 2.0))
      .toDF("code", "name", "v"))
    // CHAR(4) write-side padding reaches the store
    val lens = g.table("chartab").select(length(col("code"))).collect().map(_.getInt(0))
    assert(lens.forall(_ == 4), s"CHAR(4) must pad: ${lens.toSeq}")
    assert(g.table("chartab").orderBy("v").collect().map(_.getString(0)).toSeq ==
      Seq("AB  ", "CDEF"))
    // the DSv2 catalog lists managed tables
    val listed = spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1))
    assert(listed.contains("chartab"), s"SHOW TABLES IN graft: ${listed.toSeq}")
    g.dropTable("chartab")
  }

  test("ANSI FETCH FIRST n ROWS ONLY parses as LIMIT") {
    Tables.registerAll(spark, sf)
    val got = spark.sql(
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey FETCH FIRST 3 ROWS ONLY")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 2L))
    val one = spark.sql(
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey FETCH FIRST ROW ONLY")
      .collect().map(_.getLong(0)).toSeq
    assert(one == Seq(0L))
    // the rewrite must never touch quoted literals
    val literal = spark.sql(
      "SELECT 'use FETCH FIRST 3 ROWS ONLY here' AS s FETCH FIRST 1 ROW ONLY")
      .head().getString(0)
    assert(literal == "use FETCH FIRST 3 ROWS ONLY here")
  }

  test("text-hash/dedup expression family is callable from SQL") {
    Tables.registerAll(spark, sf)
    // SQL results must equal the Column-API expressions they register
    val row = spark.sql(
      """SELECT doc_id,
        |  ngram_jaccard(text, text, 3) AS self_j,
        |  md5_prefix_long(text, 15) AS h,
        |  top_gram_fracs(split(lower(trim(text)), '\\s+'), 2) AS fr,
        |  simhash_sig(split(text, '\\s+'), 60, true) AS sim,
        |  array_count_in(split(lower(text), '\\s+'), 'the', 'and', 'of') AS stops,
        |  size(shingle_hashes(text, 3)) AS n_sh,
        |  size(minhash_sig(text, 3, 16)) AS k
        |FROM documents WHERE doc_id = 7""".stripMargin).head()
    assert(row.getDouble(1) == 1.0) // self-Jaccard
    val text = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") === 7).head().getAs[String]("text")
    assert(row.getLong(2) ==
      org.apache.spark.sql.graft.Md5PrefixLong.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), 15))
    assert(row.getSeq[Double](3).length == 2)
    val simApi = graft.operators.Dedup.simhashSignaturesFast(
      Tables.load(spark, sf, "documents").filter(col("doc_id") === 7),
      "doc_id", "text", sigBits = 60, md5Portable = true)
      .head().getLong(1)
    assert(row.getLong(4) == simApi)
    assert(row.getInt(5) >= 0 && row.getInt(6) > 0 && row.getInt(7) == 16)
  }

  test("COLOCATE_WITH inherits the target layout and rejects incompatibles") {
    val g = GraftSession(spark)
    Tables.registerAll(spark, sf)
    g.sql("CREATE TABLE co_base USING column OPTIONS (PARTITION_BY 'o_custkey', " +
      "BUCKETS '8') AS SELECT * FROM orders")
    g.sql("CREATE TABLE co_child USING column OPTIONS (PARTITION_BY 'c_custkey', " +
      "COLOCATE_WITH 'co_base') AS SELECT * FROM customer")
    assert(g.tableState("co_child").get.buckets == 8, "buckets inherited from target")
    // co-bucketed ⇒ the join plans with no input exchange (the point of
    // colocation); proven in detail in ColocationSpec — sanity-check rows
    val n = g.table("co_child").join(g.table("co_base"),
      col("c_custkey") === col("o_custkey")).count()
    assert(n == Tables.load(spark, sf, "orders").count())
    val ex = intercept[Exception] {
      g.sql("CREATE TABLE co_bad USING column OPTIONS (BUCKETS '4', " +
        "COLOCATE_WITH 'co_base') AS SELECT * FROM customer")
    }
    assert(ex.getMessage.contains("cannot colocate"))
    val ex2 = intercept[Exception] {
      g.sql("CREATE TABLE co_bad2 USING column OPTIONS (" +
        "COLOCATE_WITH 'no_such_table') AS SELECT * FROM customer")
    }
    assert(ex2.getMessage.contains("not a managed table"))
    g.dropTable("co_child"); g.dropTable("co_base")
  }

  test("MERGE INTO (canonical upsert form) runs as PUT INTO on managed tables") {
    val g = GraftSession(spark)
    val supp = Tables.load(spark, sf, "supplier")
    g.createTable("m_tgt", supp, keyColumns = Seq("s_suppkey"),
      partitionBy = Seq("s_suppkey"), buckets = 4)
    supp.filter(col("s_suppkey") <= 3)
      .withColumn("s_acctbal", lit(7777.0))
      .createOrReplaceTempView("m_src")
    val before = g.table("m_tgt").count()
    spark.sql("MERGE INTO m_tgt USING m_src ON m_tgt.s_suppkey = m_src.s_suppkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(g.table("m_tgt").count() == before, "pure-update merge must not grow")
    val bals = g.table("m_tgt").filter(col("s_suppkey") <= 3)
      .select("s_acctbal").collect().map(_.getDouble(0)).toSet
    assert(bals == Set(7777.0))
    // richer clause sets are rejected, not approximated
    val ex = intercept[Exception] {
      spark.sql("MERGE INTO m_tgt USING m_src ON m_tgt.s_suppkey = m_src.s_suppkey " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(ex.getMessage.contains("canonical upsert form"))
    // the ON condition must be the key-equality conjunction
    val ex2 = intercept[Exception] {
      spark.sql("MERGE INTO m_tgt USING m_src ON m_tgt.s_nationkey = m_src.s_nationkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(ex2.getMessage.contains("key-equality"))
    // a same-side ON ('t.k = t.k' — a degenerate cross-match, not the
    // upsert join) must be rejected, not silently run as PUT INTO
    val exSame = intercept[Exception] {
      spark.sql("MERGE INTO m_tgt USING m_src ON m_tgt.s_suppkey = m_tgt.s_suppkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(exSame.getMessage.contains("same side"), exSame.getMessage)
    val exSame2 = intercept[Exception] {
      spark.sql("MERGE INTO m_tgt t USING m_src s ON s.s_suppkey = s.s_suppkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(exSame2.getMessage.contains("same side"), exSame2.getMessage)
    // bare = bare is ambiguous (both relations have the key) — rejected
    val exBare = intercept[Exception] {
      spark.sql("MERGE INTO m_tgt USING m_src ON s_suppkey = s_suppkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(exBare.getMessage.contains("same side"), exBare.getMessage)
    // one bare + one qualified resolves unambiguously and runs
    spark.sql("MERGE INTO m_tgt USING m_src ON s_suppkey = m_src.s_suppkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(g.table("m_tgt").count() == before)
    // the Delta-docs aliased form parses and routes too
    spark.sql("MERGE INTO m_tgt t USING m_src s ON (t.s_suppkey = s.s_suppkey) " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(g.table("m_tgt").count() == before)
    // duplicate source keys are a MERGE error, never first-wins
    supp.filter(col("s_suppkey") <= 2)
      .unionByName(supp.filter(col("s_suppkey") <= 2))
      .createOrReplaceTempView("m_dup")
    val ex3 = intercept[Exception] {
      spark.sql("MERGE INTO m_tgt USING m_dup ON m_tgt.s_suppkey = m_dup.s_suppkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(ex3.getMessage.contains("unique source keys"))
    g.dropTable("m_tgt")
  }

  test("CREATE SYNONYM: SQL + DML resolution, nesting, cycle/collision guards, DROP") {
    import spark.implicits._
    g.createTable("syn_base", (1L to 100L).map(i => (i, i * 2)).toDF("k", "v"),
      keyColumns = Seq("k"))
    try {
      g.sql("CREATE SYNONYM syn_alias FOR syn_base")
      assert(spark.sql("SELECT count(*) AS n FROM syn_alias").first().getLong(0) == 100)
      // nested synonym resolves through the chain
      g.sql("CREATE SYNONYM syn_nested FOR syn_alias")
      assert(spark.sql("SELECT sum(v) AS s FROM syn_nested").first().getLong(0) == 10100)
      // DML through the synonym routes to the managed table
      g.sql("PUT INTO syn_alias VALUES (101, 500)")
      g.sql("UPDATE syn_nested SET v = 0 WHERE k = 1")
      assert(g.table("syn_base").count() == 101)
      assert(g.table("syn_base").filter(col("k") === 1L).first().getLong(1) == 0L)
      g.sql("DELETE FROM syn_alias WHERE k = 101")
      assert(g.table("syn_base").count() == 100)
      // sys face
      assert(g.sql("SELECT * FROM sys.synonyms WHERE name = 'syn_nested'")
        .first().getString(1) == "syn_alias")
      // collision with an existing table refused; cycles refused
      intercept[Exception](g.sql("CREATE SYNONYM syn_base FOR syn_alias"))
      g.sql("CREATE SYNONYM syn_a FOR syn_b") // dangling target: legal (01522)
      intercept[Exception](g.sql("CREATE SYNONYM syn_b FOR syn_a"))
      // SET SCHEMA (set-schema.md, Derby semantics == Spark USE): the
      // session default namespace changes; current_schema() follows;
      // plain conf SETs stay untouched by the rewrite
      g.sql("CREATE SCHEMA IF NOT EXISTS sk_probe")
      g.sql("SET SCHEMA sk_probe")
      assert(spark.catalog.currentDatabase == "sk_probe")
      assert(g.sql("SELECT current_schema() AS s").first().getString(0) == "sk_probe")
      g.sql("SET CURRENT SCHEMA default")
      assert(spark.catalog.currentDatabase == "default")
      g.sql("SET spark.sql.graft.sk_probe_conf=1") // conf SET untouched
      assert(spark.conf.get("spark.sql.graft.sk_probe_conf") == "1")
      spark.conf.unset("spark.sql.graft.sk_probe_conf")
      g.sql("DROP SCHEMA sk_probe")
      // direct self-cycle (Derby 42916): never enters the chain walk, so
      // it needs its own guard — and must NOT leave a registration behind
      intercept[Exception](g.sql("CREATE SYNONYM syn_self FOR syn_self"))
      g.sql("CREATE SYNONYM syn_self FOR syn_base") // name still free
      g.sql("DROP SYNONYM syn_self")
      g.sql("DROP SYNONYM syn_a")
      // a synonym is not a table: definition-site guards
      intercept[Exception](g.dropTable("syn_alias"))
      intercept[Exception](g.createTable("syn_alias", Seq((1, 2)).toDF("a", "b")))
      g.sql("DROP SYNONYM syn_nested")
      g.sql("DROP SYNONYM syn_alias")
      intercept[Exception](g.sql("DROP SYNONYM syn_alias"))
      intercept[Exception](spark.sql("SELECT count(*) FROM syn_alias").collect())
    } finally {
      Seq("syn_a", "syn_b", "syn_alias", "syn_nested")
        .foreach(s => if (g.isSynonym(s)) g.dropSynonym(s))
      g.dropTable("syn_base")
    }
  }

  test("SET ISOLATION: levels recorded, REPEATABLE READ refused, plain SET untouched") {
    g.sql("SET ISOLATION READ COMMITTED")
    assert(spark.sql("SELECT current_isolation() AS i").first().getString(0) == "CS")
    g.sql("SET CURRENT ISOLATION = NONE")
    assert(spark.sql("SELECT current_isolation() AS i").first().getString(0) == "NONE")
    g.sql("SET ISOLATION CS")
    assert(spark.sql("SELECT current_isolation() AS i").first().getString(0) == "CS")
    val e = intercept[Exception](g.sql("SET ISOLATION REPEATABLE READ"))
    assert(e.getMessage.contains("READ COMMITTED"), e.getMessage)
    intercept[Exception](g.sql("SET ISOLATION SERIALIZABLE"))
    g.sql("SET ISOLATION RESET")
    assert(spark.sql("SELECT current_isolation() AS i").first().getString(0) == "NONE")
    // Spark's own SET statements still pass through untouched
    g.sql("SET spark.sql.graft.sqlsurface.probe=42")
    assert(spark.conf.get("spark.sql.graft.sqlsurface.probe") == "42")
  }

  test("constrained INSERT intercept: enforced on the plain form; parameterized and BY NAME keep the native path") {
    g.sql("CREATE TABLE sqlci (k bigint, v string check (length(v) > 0)) USING row")
    try {
      // the plain form routes through the enforcing session insert —
      // the CHECK fires even though the statement is SQL-only
      val e = intercept[Exception](
        spark.sql("INSERT INTO graft.sqlci VALUES (3, '')"))
      assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
      spark.sql("INSERT INTO graft.sqlci VALUES (1, 'a')")
      // PARAMETERIZED statements cannot take the enforcing path (the
      // command re-parses its source with no binding context) — and
      // routing them native would SILENTLY skip identity/CHECK/UNIQUE/FK
      // enforcement, so they FAIL FAST with an actionable message
      val pe = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql("INSERT INTO graft.sqlci VALUES (?, ?)",
          Array(2L, "b").asInstanceOf[Array[Any]]))
      assert(pe.getMessage.contains("parameterized INSERT"), pe.getMessage)
      // the session insert API is the supported binding path (enforced)
      g.insertRows("sqlci", org.apache.spark.sql.Row(2L, "b"))
      // a typo'd column list is rejected, never positionally misrouted
      val ce = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql("INSERT INTO graft.sqlci (k, vv) VALUES (9, 'x')"))
      assert(ce.getMessage.contains("unknown column"), ce.getMessage)
      val de = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql("INSERT INTO graft.sqlci (k, k) VALUES (9, 9)"))
      assert(de.getMessage.contains("duplicate column"), de.getMessage)
      // BY NAME is Spark-native syntax the intercept grammar refuses —
      // the whole statement delegates and keeps working
      spark.sql("INSERT INTO graft.sqlci BY NAME SELECT 'c' AS v, 4L AS k")
      assert(spark.sql("SELECT count(*) FROM graft.sqlci").head().getLong(0) == 3)
    } finally g.dropTable("sqlci")
  }

  test("constrained INSERT intercept: a passthrough temp-view alias of the store table still enforces") {
    // a second session's store table, shadowed in THIS session by a
    // user-registered temp view that is a BARE ALIAS of the same store
    // table — the bare-name INSERT resolves to the alias, and routing it
    // native would silently bypass the CHECK through the passthrough
    val g2 = GraftSession(spark.newSession())
    g2.sql("CREATE TABLE sqlcv (k bigint, v string check (length(v) > 0)) USING row")
    try {
      assert(!g.isManaged("sqlcv"), "the table must not be session-managed here")
      org.apache.spark.sql.graft.store.GraftRowOps.read(spark, "sqlcv")
        .createOrReplaceTempView("sqlcv")
      val e = intercept[Exception](
        spark.sql("INSERT INTO sqlcv VALUES (3, '')"))
      assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
      spark.sql("INSERT INTO sqlcv VALUES (1, 'a')")
      assert(spark.sql("SELECT count(*) FROM graft.sqlcv").head().getLong(0) == 1)
      // a SAME-SCHEMA derived shadow (filter on top): Spark's native
      // INSERT would write THROUGH the view to the table, ignoring the
      // filter — so the intercept still enforces (same rows land, CHECK
      // holds)
      spark.sql("SELECT k, v FROM graft.sqlcv WHERE k > 0")
        .createOrReplaceTempView("sqlcv")
      val e2 = intercept[Exception](
        spark.sql("INSERT INTO sqlcv VALUES (9, '')"))
      assert(e2.getMessage.contains("CHECK constraint"), e2.getMessage)
      spark.sql("INSERT INTO sqlcv VALUES (9, 'z')")
      assert(spark.sql("SELECT count(*) FROM graft.sqlcv").head().getLong(0) == 2)
      // a SCHEMA-RESHAPING shadow: the enforcing command cannot
      // reproduce Spark's view-schema column mapping, and native would
      // silently bypass CHECK through the write-through — fail fast
      spark.sql("SELECT v, k FROM graft.sqlcv").createOrReplaceTempView("sqlcv")
      val e3 = intercept[Exception](
        spark.sql("INSERT INTO sqlcv VALUES ('z', 10)"))
      assert(e3.getMessage.contains("bypass constraint"), e3.getMessage)
      assert(spark.sql("SELECT count(*) FROM graft.sqlcv").head().getLong(0) == 2,
        "a reshaped shadow must not be written through")
    } finally {
      spark.catalog.dropTempView("sqlcv")
      g2.dropTable("sqlcv") // the CREATING session owns the registry entry
    }
  }
}
