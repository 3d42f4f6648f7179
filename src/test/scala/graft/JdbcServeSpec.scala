package graft

import org.apache.spark.sql.functions._

/** JDBC client surface (the reference's primary interface: clients
  * connect over JDBC and route SQL through the network layer to the
  * lead node's Spark driver — `cluster/.../gemxd/SparkSQLExecuteImpl
  * .scala:63`, docs/howto: "connect using JDBC driver"). Spark-first
  * equivalent: Spark's own Thrift/JDBC endpoint started on this
  * driver (`HiveThriftServer2.startWithContext`) — a real out-of-
  * process-protocol round trip over a localhost socket with the stock
  * Hive JDBC driver. The graft DSv2 catalog rides session confs, and
  * the store registry is JVM-global, so a fresh JDBC session sees and
  * mutates the SAME store tables this session serves.
  */
class JdbcServeSpec extends SparkTestBase {

  // the Thrift server is once-per-JVM (a second startWithContext never
  // binds) — share one across the suite's tests
  private lazy val port: Int = {
    // Spark's execution Hive client asks Derby for an in-memory
    // metastore; a derby.system.home set before Derby boots makes Derby
    // resolve that name on disk, where every retry fails. Only the log
    // goes to a temp dir.
    System.setProperty("derby.stream.error.file",
      tempDir("jdbc_meta").resolve("derby.log").toString)
    val p = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    spark.conf.set("hive.server2.thrift.port", p.toString)
    spark.conf.set("hive.server2.thrift.bind.host", "localhost")
    // Hive's per-session downloaded-resources directory defaults to
    // java.io.tmpdir and outlives the suite; keep it under a temp root
    spark.conf.set("hive.downloaded.resources.dir",
      tempDir("jdbc_res").toString + "/${hive.session.id}_resources")
    org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
      .startWithContext(spark.sqlContext)
    p
  }

  private def connect(): java.sql.Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    var conn: java.sql.Connection = null
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (conn == null) {
      try conn = java.sql.DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/", "", "")
      catch {
        case e: java.sql.SQLException =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(250)
      }
    }
    conn
  }

  test("a JDBC client queries and mutates graft store tables over the wire") {
    val g = GraftSession(spark)
    import spark.implicits._
    g.sql("CREATE TABLE jdbc_t (k bigint, v string) USING column " +
      "OPTIONS (partition_by 'k', buckets '4')")
    g.insert("jdbc_t", (1L to 100L).map(i => (i % 4, s"v$i")).toDF("k", "v"))

    val conn = connect()
    try {
      locally {
        val st = conn.createStatement()
        // read the store table through the DSv2 catalog from the
        // CLIENT's own session (catalog + extensions ride session confs)
        val rs = st.executeQuery(
          "SELECT k, count(*) AS n FROM graft.jdbc_t GROUP BY k ORDER BY k")
        val got = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getLong(1), r.getLong(2))).toSeq
        assert(got == Seq((0L, 25L), (1L, 25L), (2L, 25L), (3L, 25L)), got.toString)
        // DML over the wire lands in the SAME store this session reads
        assert(st.executeUpdate(
          "INSERT INTO graft.jdbc_t VALUES (9, 'from_jdbc')") >= 0)
        assert(g.sql("SELECT count(*) FROM jdbc_t WHERE k = 9")
          .head().getLong(0) == 1L)
        // and a replica attached in THIS session refuses the client's
        // write too — the store-level guard crosses protocol boundaries
        val root = tempDir("jdbc_rep").toString
        g.publishTable("jdbc_t", root)
        g.attachTable("jdbc_rep", root)
        val e = intercept[java.sql.SQLException](st.executeUpdate(
          "INSERT INTO graft.jdbc_rep VALUES (1, 'x')"))
        assert(e.getMessage.contains("read replica"), e.getMessage)
        g.dropTable("jdbc_rep")
      }
    } finally {
      conn.close()
      g.dropTable("jdbc_t")
    }
  }

  test("a pure-JDBC client drives the full serving lifecycle: create, load, publish, attach view, read") {
    // the graft PARSER rides spark.sql.extensions into the server-side
    // session, so a SQL-only client needs no Scala at all — exactly the
    // reference's deployment (applications speak JDBC to the cluster)
    val conn = connect()
    try {
      locally {
        val st = conn.createStatement()
        val root = tempDir("jdbc_root").toString
        st.execute("CREATE TABLE jdbc_pub (k bigint, v bigint) USING column " +
          "OPTIONS (partition_by 'k', buckets '4')")
        st.executeUpdate("INSERT INTO graft.jdbc_pub " +
          "SELECT id % 4, id * 2 FROM range(1000)")
        def one(q: String): Long = {
          val rs = st.executeQuery(q); assert(rs.next()); rs.getLong(1)
        }
        assert(one(s"PUBLISH TABLE jdbc_pub INCREMENTAL TO '$root'") == 0L)
        st.execute("DELETE FROM jdbc_pub WHERE v < 400")
        assert(one(s"PUBLISH TABLE jdbc_pub INCREMENTAL TO '$root'") == 1L)
        // zero-copy view over the wire: latest epoch reflects the delete
        assert(one(s"ATTACH VIEW jdbc_view FROM '$root' VERIFY") == 1L)
        assert(one("SELECT count(*) FROM jdbc_view") == 800L)
        // pinned epoch 0 answers pre-delete — time travel over JDBC
        assert(one(s"ATTACH VIEW jdbc_view0 FROM '$root' EPOCH 0") == 0L)
        assert(one("SELECT count(*) FROM jdbc_view0") == 1000L)
      }
    } finally {
      conn.close()
      org.apache.spark.sql.graft.store.GraftColumnStore.drop("jdbc_pub")
    }
  }

  test("PreparedStatement parameter binding round-trips over the wire") {
    // the reference binds wire parameters server-side into ParamLiterals
    // (cluster/.../gemxd/SparkSQLPrepareImpl.scala:45) so prepared plans
    // are shared; the stock Hive JDBC driver substitutes parameters
    // CLIENT-side before sending, and the server's plan-cache
    // tokenization (TokenizationSpec) recovers the plan sharing the
    // reference gets from ParamLiteral. This arm pins the part every
    // JDBC application touches: setLong/setString/setDouble binding,
    // re-execution with new parameters, and quote-safe string escaping.
    val g = GraftSession(spark)
    import spark.implicits._
    g.sql("CREATE TABLE jdbc_ps (k bigint, name string, score double) " +
      "USING column OPTIONS (partition_by 'k', buckets '4')")
    g.insert("jdbc_ps", (1L to 50L).map(i =>
      (i % 5, s"n$i", i * 0.5)).toDF("k", "name", "score"))
    g.insert("jdbc_ps", Seq((9L, "o'quote", 99.0)).toDF("k", "name", "score"))
    val conn = connect()
    try {
      val ps = conn.prepareStatement(
        "SELECT count(*) AS n, sum(score) AS s FROM graft.jdbc_ps " +
          "WHERE k = ? AND score > ?")
      ps.setLong(1, 2L)
      ps.setDouble(2, 10.0)
      val rs1 = ps.executeQuery()
      assert(rs1.next())
      val expect = (1L to 50L).filter(i => i % 5 == 2 && i * 0.5 > 10.0)
      assert(rs1.getLong(1) == expect.size)
      assert(math.abs(rs1.getDouble(2) - expect.map(_ * 0.5).sum) < 1e-9)
      // SAME prepared handle, new parameters — the re-execution path
      ps.setLong(1, 4L)
      ps.setDouble(2, 0.0)
      val rs2 = ps.executeQuery()
      assert(rs2.next())
      assert(rs2.getLong(1) == (1L to 50L).count(_ % 5 == 4))
      // string parameter with an embedded quote must bind, not inject
      val ps2 = conn.prepareStatement(
        "SELECT k FROM graft.jdbc_ps WHERE name = ?")
      ps2.setString(1, "o'quote")
      val rs3 = ps2.executeQuery()
      assert(rs3.next() && rs3.getLong(1) == 9L && !rs3.next())
      // parameterized DML through the prepared path
      val ins = conn.prepareStatement(
        "INSERT INTO graft.jdbc_ps VALUES (?, ?, ?)")
      ins.setLong(1, 7L); ins.setString(2, "bound"); ins.setDouble(3, 1.5)
      assert(ins.executeUpdate() >= 0)
      assert(g.sql("SELECT count(*) FROM jdbc_ps WHERE k = 7 AND name = 'bound'")
        .head().getLong(0) == 1L)
    } finally {
      conn.close()
      g.dropTable("jdbc_ps")
    }
  }

  test("batch prepared writes: addBatch limitation pinned; multi-row prepared VALUES is the wire bulk path; identity fills per batch") {
    // The stock Hive JDBC driver (2.3.10 — the client Spark's Thrift
    // endpoint ships against) refuses addBatch()/executeBatch()
    // CLIENT-SIDE with SQLFeatureNotSupportedException: the reference's
    // DRDA driver batches in its own client layer, Hive's never
    // implemented it. That is a documented driver limitation, not a
    // server one — so pin it, then drive the batch semantics the wire
    // DOES carry: one prepared MULTI-ROW VALUES statement per round
    // trip (N parameter sets, one execution, one atomic store commit),
    // handle re-execution with fresh bindings, and identity columns
    // filling gap-free across a batched statement.
    val g = GraftSession(spark)
    g.sql("CREATE TABLE jdbc_bt (k bigint, v string) USING column " +
      "OPTIONS (partition_by 'k', buckets '4')")
    g.sql("CREATE TABLE jdbc_bi (id bigint generated by default as identity " +
      "(start with 1000, increment by 1), v string) USING row")
    val conn = connect()
    try {
      val probe = conn.prepareStatement("INSERT INTO graft.jdbc_bt VALUES (?, ?)")
      probe.setLong(1, 1L); probe.setString(2, "x")
      val e = intercept[java.sql.SQLException](probe.addBatch())
      assert(e.isInstanceOf[java.sql.SQLFeatureNotSupportedException] ||
        e.getMessage.toLowerCase.contains("not supported"), e.toString)
      // multi-row VALUES through ONE prepared statement: one round
      // trip, one executeUpdate, all rows land in one atomic commit
      val n = 40
      val ps = conn.prepareStatement("INSERT INTO graft.jdbc_bt VALUES " +
        Seq.fill(n)("(?, ?)").mkString(", "))
      (0 until n).foreach { i =>
        ps.setLong(2 * i + 1, i % 4); ps.setString(2 * i + 2, s"b$i")
      }
      assert(ps.executeUpdate() >= 0)
      assert(g.sql("SELECT count(*) FROM jdbc_bt").head().getLong(0) == n)
      // handle re-execution with fresh bindings — the batched-load loop
      (0 until n).foreach { i =>
        ps.setLong(2 * i + 1, 9L); ps.setString(2 * i + 2, s"c$i")
      }
      assert(ps.executeUpdate() >= 0)
      assert(g.sql("SELECT count(*) FROM jdbc_bt WHERE k = 9")
        .head().getLong(0) == n)
      // identity interaction over the wire: the column-list form omits
      // the identity column; the server routes constrained inserts
      // through the enforcing path, so one batched statement draws a
      // GAP-FREE block and a second statement continues the sequence
      val pi = conn.prepareStatement("INSERT INTO graft.jdbc_bi (v) VALUES " +
        Seq.fill(5)("(?)").mkString(", "))
      (1 to 5).foreach(i => pi.setString(i, s"row$i"))
      assert(pi.executeUpdate() >= 0)
      (1 to 5).foreach(i => pi.setString(i, s"row${i + 5}"))
      assert(pi.executeUpdate() >= 0)
      val ids = g.sql("SELECT id FROM jdbc_bi ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == (1000L to 1009L), s"identity block not gap-free: $ids")
      // GENERATED BY DEFAULT honors an explicit value over the wire too
      val st2 = conn.createStatement()
      assert(st2.executeUpdate(
        "INSERT INTO graft.jdbc_bi VALUES (7, 'explicit')") >= 0)
      assert(g.sql("SELECT count(*) FROM jdbc_bi WHERE id = 7")
        .head().getLong(0) == 1L)
    } finally {
      conn.close()
      g.dropTable("jdbc_bt"); g.dropTable("jdbc_bi")
    }
  }

  test("ALTER TOPK retention runs from a session that didn't create the store") {
    // sketch retention is a maintenance path: the JVM-global store is
    // shared, the managed map is session-local — the Thrift session must
    // ADOPT the sketch table before decaying it
    val g = GraftSession(spark)
    import spark.implicits._
    val rows = for { day <- 1 to 3; i <- 1 to 200 } yield
      (s"$day/$i", java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"),
        s"k${i % 20}")
    g.createApproxTSTopK("jdbc_tk", rows.toDF("event_id", "ts", "user_key"),
      "user_key", "ts", "1 day", 5, width = 512)
    val conn = connect()
    try {
      val st = conn.createStatement()
      def agedLen(): Long = g.table("jdbc_tk_sketches")
        .filter(col("bucket_end") <= lit("2024-01-03 00:00:00").cast("timestamp"))
        .agg(max(length(col("sketch")).cast("long"))).head().getLong(0)
      val before = agedLen()
      st.execute("ALTER TOPK jdbc_tk DECAY OLDER THAN '2024-01-03 00:00:00' " +
        "GENERATIONS 2")
      val after = agedLen()
      assert(after < before / 3, s"aged sketches must shrink ~4x: $before → $after")
      // the retried retention job over the wire is a no-op too
      st.execute("ALTER TOPK jdbc_tk DECAY OLDER THAN '2024-01-03 00:00:00' " +
        "GENERATIONS 2")
      assert(agedLen() == after, "wire re-run must not decay again")
    } finally {
      conn.close()
      g.dropTable("jdbc_tk"); g.dropTable("jdbc_tk_sketches")
    }
  }

  test("two concurrent JDBC sessions share one store table with snapshot-consistent reads") {
    val g = GraftSession(spark)
    g.sql("CREATE TABLE jdbc_cc (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4')")
    val c1 = connect(); val c2 = connect()
    try {
      val s1 = c1.createStatement(); val s2 = c2.createStatement()
      // writes from EITHER session land in the one JVM-global store ...
      s1.executeUpdate("INSERT INTO graft.jdbc_cc SELECT id % 4, id FROM range(100)")
      s2.executeUpdate("INSERT INTO graft.jdbc_cc SELECT id % 4, id FROM range(100, 200)")
      def count(st: java.sql.Statement): Long = {
        val rs = st.executeQuery("SELECT count(*) FROM graft.jdbc_cc")
        assert(rs.next()); rs.getLong(1)
      }
      assert(count(s1) == 200L && count(s2) == 200L)
      // ... and interleaved writer/reader sessions only ever observe
      // COMMITTED batch boundaries (each insert is one 25-row batch):
      // snapshot isolation means no torn batch is ever visible, and a
      // single session's reads are monotonic while both write
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val writer = Future {
        (0 until 8).foreach { i =>
          s1.executeUpdate("INSERT INTO graft.jdbc_cc " +
            s"SELECT id % 4, id FROM range(${200 + i * 25}, ${225 + i * 25})")
        }
      }
      val reads = Future {
        Iterator.continually(count(s2)).take(24).toSeq
      }
      Await.result(writer, 120.seconds)
      val observed = Await.result(reads, 120.seconds)
      observed.foreach(n => assert(n >= 200L && n <= 400L && n % 25 == 0,
        s"torn read: $n"))
      assert(observed == observed.sorted, s"non-monotonic reads: $observed")
      assert(count(s2) == 400L)
      // a delete through the embedding session is immediately visible to
      // BOTH wire sessions (one JVM-global store, three protocol faces)
      g.delete("jdbc_cc", col("v") >= 300)
      assert(count(s1) == 300L && count(s2) == 300L)
    } finally {
      c1.close(); c2.close()
      g.dropTable("jdbc_cc")
    }
  }

  test("complex-typed columns (ARRAY/STRUCT/MAP) return as JSON text over JDBC") {
    // the reference returns complex columns to thin clients as JSON
    // (core/.../Literals.scala:423 ComplexTypeAsJson); the Spark Thrift
    // endpoint serializes them to the equivalent JSON-ish text form —
    // pin the exact contract a SQL-only client sees
    val g = GraftSession(spark)
    g.sql("CREATE TABLE jdbc_cx (k bigint, arr array<int>, " +
      "st struct<a:int, b:string>, mp map<string,int>) USING column " +
      "OPTIONS (partition_by 'k', buckets '2')")
    g.insert("jdbc_cx", spark.sql(
      "SELECT 1L AS k, array(1, 2, 3) AS arr, " +
        "named_struct('a', 7, 'b', 'x') AS st, map('m', 5) AS mp"))
    val conn = connect()
    try {
      val st = conn.createStatement()
      val rs = st.executeQuery(
        "SELECT arr, st, mp FROM graft.jdbc_cx WHERE k = 1")
      assert(rs.next())
      assert(rs.getString(1) == "[1,2,3]", rs.getString(1))
      assert(rs.getString(2) == """{"a":7,"b":"x"}""", rs.getString(2))
      assert(rs.getString(3) == """{"m":5}""", rs.getString(3))
      // the declared wire types degrade to the text forms a thin client
      // can always consume
      val md = rs.getMetaData
      assert((1 to 3).map(md.getColumnTypeName).forall(t =>
        t.contains("array") || t.contains("struct") || t.contains("map") ||
          t.contains("string")), (1 to 3).map(md.getColumnTypeName).toString)
    } finally {
      conn.close()
      g.dropTable("jdbc_cx")
    }
  }

  test("a pure-JDBC client drives the matview lifecycle: create, serve, refresh O(delta)") {
    // materialized views are a STORE-level registry + an optimizer rule
    // riding spark.sql.extensions, so a SQL-only client gets the full
    // lifecycle — create, transparent serving (EXPLAIN-asserted over the
    // wire), freshness introspection, incremental refresh — with no
    // Scala on either end
    val conn = connect()
    try {
      locally {
        val st = conn.createStatement()
        st.execute("CREATE TABLE jdbc_mvb (k bigint, v bigint) USING column " +
          "OPTIONS (partition_by 'k', buckets '4')")
        st.executeUpdate("INSERT INTO graft.jdbc_mvb SELECT id % 5, id FROM range(1000)")
        st.execute("CREATE MATERIALIZED VIEW jdbc_mvs AS " +
          "SELECT k, sum(v) AS sv, count(*) AS n FROM jdbc_mvb GROUP BY k")
        def rows(q: String): Seq[Seq[String]] = {
          val rs = st.executeQuery(q)
          val n = rs.getMetaData.getColumnCount
          Iterator.continually(rs).takeWhile(_.next())
            .map(r => (1 to n).map(r.getString)).toSeq
        }
        // the plan the CLIENT gets is the summary scan, not the base
        val plan = rows("EXPLAIN SELECT k, sum(v) AS sv FROM jdbc_mvb GROUP BY k")
          .flatten.mkString("\n")
        assert(plan.contains("jdbc_mvs"), s"rewrite missing over JDBC:\n$plan")
        // sum over k-residue class r of range(1000): 99500 + 200r
        val expect1 = (0 to 4).map(r => Seq(s"$r", s"${99500 + 200 * r}", "200"))
        assert(rows("SELECT k, sum(v) AS sv, count(*) AS n FROM jdbc_mvb " +
          "GROUP BY k ORDER BY k") == expect1)
        assert(rows("SELECT is_fresh FROM sys.matviews WHERE name = 'jdbc_mvs'")
          == Seq(Seq("true")))
        // append over the wire → stale (visible in sys.matviews), then
        // REFRESH takes the O(delta) path and serving resumes
        st.executeUpdate("INSERT INTO graft.jdbc_mvb SELECT id % 5, id " +
          "FROM range(1000, 1200)")
        assert(rows("SELECT is_fresh FROM sys.matviews WHERE name = 'jdbc_mvs'")
          == Seq(Seq("false")))
        assert(rows("REFRESH MATERIALIZED VIEW jdbc_mvs") == Seq(Seq("incremental")))
        // range(1000,1200): residue r gains sum 43900+40r, count 40
        val expect2 = (0 to 4).map(r =>
          Seq(s"$r", s"${99500 + 200 * r + 43900 + 40 * r}", "240"))
        assert(rows("SELECT k, sum(v) AS sv, count(*) AS n FROM jdbc_mvb " +
          "GROUP BY k ORDER BY k") == expect2)
        st.execute("DROP MATERIALIZED VIEW jdbc_mvs")
      }
    } finally {
      conn.close()
      org.apache.spark.sql.graft.store.GraftColumnStore.drop("jdbc_mvb")
    }
  }

  test("a PK read over the wire submits no job, with default and incremental collect") {
    // the serving hot path: the Thrift server collects (or, with
    // incrementalCollect, iterates) the statement's plan, whose root is
    // the jobless key lookup — the routed get answers on the handler thread
    val g = GraftSession(spark)
    g.createTable("jdbc_pk", Tables.load(spark, sf, "customer"),
      keyColumns = Seq("c_custkey"), provider = "row")
    val conn = connect()
    try {
      val st = conn.createStatement()
      for (incremental <- Seq("false", "true")) {
        st.execute(s"SET spark.sql.thriftServer.incrementalCollect=$incremental")
        var got = Seq.empty[(Long, String)]
        val jobs = jobsDuring {
          val rs = st.executeQuery(
            "SELECT c_custkey, c_name FROM graft.jdbc_pk WHERE c_custkey = 7")
          got = Iterator.continually(rs).takeWhile(_.next())
            .map(r => (r.getLong(1), r.getString(2))).toSeq
          rs.close()
        }
        assert(got == Seq((7L, "Customer#000000007")), s"incrementalCollect=$incremental")
        assert(jobs == 0, s"incrementalCollect=$incremental")
      }
    } finally {
      conn.close()
      g.dropTable("jdbc_pk")
    }
  }

  test("a client session mutates this session's table by bare name and lists it in sys.tablestats") {
    // the client's session did not create the table and holds no temp
    // view of it: the bare names resolve through the store registry
    val g = GraftSession(spark)
    g.createTable("jdbc_bare", spark.range(1, 11)
      .select(col("id").as("k"), (col("id") * 10).as("v")),
      keyColumns = Seq("k"), provider = "row")
    val conn = connect()
    try {
      val st = conn.createStatement()
      st.execute("PUT INTO jdbc_bare VALUES (1, 100), (50, 500)")
      st.execute("UPDATE jdbc_bare SET v = 7 WHERE k = 2")
      st.execute("DELETE FROM jdbc_bare WHERE k = 3")
      val got = g.table("jdbc_bare").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 10 && got(1) == 100 && got(50) == 500 && got(2) == 7 &&
        !got.contains(3L), got)
      val rs = st.executeQuery(
        "SELECT provider, row_count FROM sys.tablestats WHERE table_name = 'jdbc_bare'")
      try {
        assert(rs.next(), "sys.tablestats lists the table from the client session")
        assert(rs.getString(1) == "row" && rs.getLong(2) == 10)
      } finally rs.close()
    } finally {
      conn.close()
      g.dropTable("jdbc_bare")
    }
  }

  test("single-row INSERT, PUT INTO and UPDATE over the wire submit no job") {
    // serving's write mix: the statements commit on the handler thread,
    // and a PK read over the wire sees each write
    val conn = connect()
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE jdbc_wo (k bigint, cust bigint, price bigint) USING column " +
        "OPTIONS (key_columns 'k', partition_by 'k', buckets '4')")
      st.execute("INSERT INTO graft.jdbc_wo SELECT id, id % 7, id * 10 FROM range(1, 101)")
      st.execute("CREATE TABLE jdbc_wc (k bigint, name string, bal bigint) USING row " +
        "OPTIONS (key_columns 'k')")
      st.execute("INSERT INTO graft.jdbc_wc SELECT id, concat('name', id), id * 100 " +
        "FROM range(1, 101)")
      def one(q: String): String = {
        val rs = st.executeQuery(q)
        try {
          assert(rs.next(), q)
          (1 to rs.getMetaData.getColumnCount).map(rs.getString).mkString("|")
        } finally rs.close()
      }
      for ((sql, read, want) <- Seq(
          ("INSERT INTO graft.jdbc_wo VALUES (900001, 3, 77)",
            "SELECT * FROM graft.jdbc_wo WHERE k = 900001", "900001|3|77"),
          ("PUT INTO jdbc_wc VALUES (900002, 'put', 5)",
            "SELECT * FROM graft.jdbc_wc WHERE k = 900002", "900002|put|5"),
          ("PUT INTO jdbc_wc VALUES (7, 'put-old', 8)",
            "SELECT * FROM graft.jdbc_wc WHERE k = 7", "7|put-old|8"),
          ("UPDATE jdbc_wc SET bal = 6 WHERE k = 900002",
            "SELECT * FROM graft.jdbc_wc WHERE k = 900002", "900002|put|6"))) {
        assert(jobsDuring(st.execute(sql)) == 0, sql)
        var got = ""
        assert(jobsDuring { got = one(read) } == 0, read)
        assert(got == want, sql)
      }
    } finally {
      conn.close()
      org.apache.spark.sql.graft.store.GraftColumnStore.drop("jdbc_wo")
      org.apache.spark.sql.graft.store.GraftRowStore.drop("jdbc_wc")
    }
  }
}
