package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.AppendDataExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowStore, LocalAppendExec, LocalLookupExec, MatViews}

/** Jobless single-row writes (the reference's prepared-statement
  * RowInsertExec / RowUpdateExec / RowDeleteExec): an INSERT of a VALUES
  * list into either store, a row-table PUT INTO of local rows, and an
  * UPDATE or DELETE pinned to one key write and commit on the calling
  * thread. Proven here, for each statement: no job, the same stored rows
  * as the same statement through the job path (a non-local source into
  * a twin table), and the written key visible to the jobless key read
  * and to a full scan. Also: duplicate keys in a local PUT, constraint
  * violations, matview staleness and failure atomicity.
  */
class LocalWriteSpec extends SparkTestBase {

  private def g = GraftSession(spark)

  private def columnTable(name: String): Unit =
    g.createTable(name, spark.range(1, 41).select(col("id").as("k"),
      (col("id") % 7).as("cust"), concat(lit("s"), col("id") % 3).as("status"),
      (col("id") * 10).as("price")),
      keyColumns = Seq("k"), partitionBy = Seq("k"), buckets = 4)

  private def rowTable(name: String): Unit =
    g.createTable(name, spark.range(1, 41).select(col("id").as("k"),
      concat(lit("name"), col("id")).as("name"), (col("id") * 100).as("bal")),
      keyColumns = Seq("k"), partitionBy = Seq("k"), buckets = 4, provider = "row")

  private def scan(t: String): Seq[String] =
    spark.table(s"graft.$t").collect().map(_.mkString("|")).toSeq.sorted

  /** (what, row table?, statement through the local path, the same
    * statement through the job path, the key written, present after?)
    */
  private val cases: Seq[(String, Boolean, String => String, String => String, Long, Boolean)] = Seq(
    ("INSERT VALUES into a key-bucketed column table", false,
      t => s"INSERT INTO graft.$t VALUES (900001, 3, 'new', 77)",
      t => s"INSERT INTO graft.$t SELECT 900001L, 3L, 'new', 77L FROM range(1)", 900001L, true),
    ("INSERT VALUES into a row table", true,
      t => s"INSERT INTO graft.$t VALUES (900002, 'fresh', 5)",
      t => s"INSERT INTO graft.$t SELECT 900002L, 'fresh', 5L FROM range(1)", 900002L, true),
    ("PUT with a new key", true,
      t => s"PUT INTO $t VALUES (900003, 'put-new', 6)",
      t => s"PUT INTO $t SELECT 900003L AS k, 'put-new' AS name, 6L AS bal FROM range(1)",
      900003L, true),
    ("PUT with an existing key", true,
      t => s"PUT INTO $t VALUES (7, 'put-old', 8)",
      t => s"PUT INTO $t SELECT 7L AS k, 'put-old' AS name, 8L AS bal FROM range(1)", 7L, true),
    ("UPDATE by key", true,
      t => s"UPDATE $t SET bal = bal + 1 WHERE k = 9",
      t => s"UPDATE $t SET bal = bal + 1 WHERE abs(k) = 9", 9L, true),
    ("DELETE by key", true,
      t => s"DELETE FROM $t WHERE k = 11",
      t => s"DELETE FROM $t WHERE abs(k) = 11", 11L, false))

  test("single-row writes submit no job and store what the job path stores") {
    for (((what, row, viaLocal, viaJob, key, present), i) <- cases.zipWithIndex) {
      val (t, twin) = (s"lw_case$i", s"lw_case${i}_job")
      Seq(t, twin).foreach(if (row) rowTable else columnTable)
      try {
        assert(jobsDuring(spark.sql(viaLocal(t))) == 0, what)
        assert(jobsDuring(spark.sql(viaJob(twin))) > 0, what)
        val stored = scan(t)
        assert(stored == scan(twin), what)
        val pk = spark.sql(s"SELECT * FROM graft.$t WHERE k = $key")
        var got: Seq[String] = Nil
        assert(jobsDuring { got = pk.collect().map(_.mkString("|")).toSeq } == 0, what)
        assert(pk.queryExecution.executedPlan.isInstanceOf[LocalLookupExec], what)
        assert(got == stored.filter(_.startsWith(s"$key|")), what)
        assert(got.size == (if (present) 1 else 0), s"$what: $got")
      } finally Seq(t, twin).foreach(g.dropTable)
    }
  }

  test("the append is one local node over the VALUES list; its run count is a plan metric") {
    columnTable("lw_plan")
    try {
      def command(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
        case c: CommandResultExec => c.commandPhysicalPlan
        case p => p
      }
      val plan = command(
        spark.sql("INSERT INTO graft.lw_plan VALUES (900010, 1, 'p', 1), (900011, 2, 'p', 2)"))
      assert(plan.isInstanceOf[LocalAppendExec], plan.toString)
      assert(plan.metrics("numLocalRuns").value == 1, plan.toString)
      assert(spark.sql("SELECT count(*) FROM graft.lw_plan WHERE k >= 900010").head().getLong(0) == 2)
      // a non-local source keeps Spark's append and its job
      val big = command(
        spark.sql("INSERT INTO graft.lw_plan SELECT id + 950000, 1, 'p', 1 FROM range(3)"))
      assert(big.isInstanceOf[AppendDataExec], big.toString)
    } finally g.dropTable("lw_plan")
  }

  test("a sorted append through the writer API orders each partition like the job path") {
    import spark.implicits._
    val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
    val rows = Seq((900020L, 1L, "z", 9L), (900021L, 2L, "y", 3L), (900022L, 3L, "x", 6L),
      (900023L, 4L, "w", 1L), (900024L, 5L, "v", 4L))
    def append(t: String, df: DataFrame): Unit =
      df.write.format(fmt).option("table", t).option("sort_by", "price").mode("append").save()
    Seq("lw_sorted", "lw_sorted_job").foreach(columnTable)
    try {
      assert(jobsDuring(append("lw_sorted", rows.toDF("k", "cust", "status", "price"))) == 0)
      append("lw_sorted_job", spark.range(1).crossJoin(rows.toDF("k", "cust", "status", "price"))
        .drop("id"))
      // scan order, not sorted: each bucket's new batch holds its rows in
      // the required order on both paths
      def inOrder(t: String) = spark.table(s"graft.$t").filter(col("k") >= 900020L)
        .collect().map(_.mkString("|")).toSeq
      assert(inOrder("lw_sorted") == inOrder("lw_sorted_job"))
      assert(inOrder("lw_sorted").size == rows.size)
    } finally Seq("lw_sorted", "lw_sorted_job").foreach(g.dropTable)
  }

  test("a local PUT with duplicate keys keeps the row the job path keeps") {
    Seq("lw_dup", "lw_dup_job").foreach(rowTable)
    try {
      assert(jobsDuring(spark.sql(
        "PUT INTO lw_dup VALUES (900030, 'first', 1), (900030, 'second', 2), (5, 'a', 3), " +
          "(5, 'b', 4), (900031, 'only', 5)")) == 0)
      // the same rows in the same order, made non-local by a join
      spark.sql("PUT INTO lw_dup_job SELECT v.* FROM range(1) CROSS JOIN (VALUES " +
        "(900030L, 'first', 1L), (900030L, 'second', 2L), (5L, 'a', 3L), (5L, 'b', 4L), " +
        "(900031L, 'only', 5L)) AS v(k, name, bal)")
      assert(scan("lw_dup") == scan("lw_dup_job"))
      assert(spark.sql("SELECT name FROM graft.lw_dup WHERE k IN (5, 900030)")
        .collect().map(_.getString(0)).toSet == Set("a", "first"))
    } finally Seq("lw_dup", "lw_dup_job").foreach(g.dropTable)
  }

  test("NOT NULL and CHECK violations: the local path raises the job path's error and writes nothing") {
    g.sql("CREATE TABLE lw_ck (id bigint primary key, v string not null, " +
      "age int check (age > 0)) USING row")
    try {
      spark.sql("INSERT INTO graft.lw_ck VALUES (1, 'a', 30)")
      val violations = Seq(
        "INSERT INTO graft.lw_ck VALUES (2, NULL, 5)" ->
          "INSERT INTO graft.lw_ck SELECT 2L, CAST(NULL AS STRING), 5 FROM range(1)",
        "INSERT INTO graft.lw_ck VALUES (3, 'c', -1)" ->
          "INSERT INTO graft.lw_ck SELECT 3L, 'c', -1 FROM range(1)",
        "PUT INTO lw_ck VALUES (1, NULL, 5)" ->
          "PUT INTO lw_ck SELECT 1L AS id, CAST(NULL AS STRING) AS v, 5 AS age FROM range(1)",
        "PUT INTO lw_ck VALUES (1, 'a', -2)" ->
          "PUT INTO lw_ck SELECT 1L AS id, 'a' AS v, -2 AS age FROM range(1)",
        "UPDATE lw_ck SET age = -7 WHERE id = 1" ->
          "UPDATE lw_ck SET age = -7 WHERE abs(id) = 1")
      for ((local, viaJob) <- violations) {
        val before = GraftRowStore("lw_ck").snapshot
        val onLocal = intercept[Exception](spark.sql(local))
        val onJob = intercept[Exception](spark.sql(viaJob))
        assert(onLocal.getClass == onJob.getClass, local)
        assert(onLocal.getMessage == onJob.getMessage, local)
        assert(onLocal.getMessage.contains("NOT NULL") || onLocal.getMessage.contains("CHECK"),
          onLocal.getMessage)
        assert(GraftRowStore("lw_ck").snapshot eq before, local)
      }
      assert(scan("lw_ck") == Seq("1|a|30"))
    } finally g.dropTable("lw_ck")
  }

  test("a local write leaves a view over the base stale; its refresh takes the job-path write's path") {
    Seq("lw_mv", "lw_mv_job").foreach(columnTable)
    try {
      for (t <- Seq("lw_mv", "lw_mv_job"))
        g.sql(s"CREATE MATERIALIZED VIEW ${t}_v AS " +
          s"SELECT cust, count(*) AS n, sum(price) AS sp FROM $t GROUP BY cust")
      def fresh(v: String) = MatViews.isFresh(MatViews.get(v).get)
      assert(fresh("lw_mv_v") && fresh("lw_mv_job_v"))
      assert(jobsDuring(spark.sql("INSERT INTO graft.lw_mv VALUES (900040, 3, 'mv', 500)")) == 0)
      spark.sql("INSERT INTO graft.lw_mv_job SELECT 900040L, 3L, 'mv', 500L FROM range(1)")
      assert(!fresh("lw_mv_v") && !fresh("lw_mv_job_v"))
      val path = g.refreshMaterializedView("lw_mv_v")
      assert(path == g.refreshMaterializedView("lw_mv_job_v"))
      assert(path == "incremental", path)
      assert(fresh("lw_mv_v"))
      assert(scan("lw_mv_v") == scan("lw_mv_job_v"))
    } finally {
      Seq("lw_mv_v", "lw_mv_job_v").foreach(g.dropMaterializedView)
      Seq("lw_mv", "lw_mv_job").foreach(g.dropTable)
    }
  }

  test("a failing write leaves snapshots and payload registries unchanged and no task context") {
    spark.udf.register("lw_boom", (s: String) =>
      if (s == null) s else throw new IllegalStateException(s"lw_boom($s)"))
    columnTable("lw_failc")
    rowTable("lw_fail")
    try {
      val failing = Seq(
        "INSERT INTO graft.lw_failc SELECT k, 1, lw_boom(s), 5 FROM VALUES (900050L, 'x') AS v(k, s)",
        "PUT INTO lw_fail SELECT k, lw_boom(s) AS name, 5L AS bal FROM VALUES (900051L, 'x') AS v(k, s)",
        // the UDF throws inside the key lookup's run on this thread
        "UPDATE lw_fail SET name = lw_boom(name) WHERE k = 3",
        // new keys in buckets 0-2 and an existing key in bucket 3: the
        // last partition's writer fails after the others sealed packs
        "INSERT INTO graft.lw_fail VALUES (900055, 'n', 1), (900052, 'n', 2), (900059, 'n', 3), " +
          "(3, 'dup', 4)")
      for (sql <- failing) {
        val (rowSnap, colSnap) = (GraftRowStore("lw_fail").snapshot, GraftColumnStore("lw_failc").snapshot)
        val (packs, batches) = (GraftRowStore.packs.count, GraftColumnStore.batches.count)
        var failure: Throwable = null
        assert(jobsDuring { failure = intercept[Throwable](spark.sql(sql)) } == 0, sql)
        assert(Iterator.iterate(failure)(_.getCause).takeWhile(_ != null).exists(e =>
          e.getMessage != null && (e.getMessage.contains("lw_boom") ||
            e.getMessage.contains("primary key already exists"))), failure.toString)
        assert(TaskContext.get() == null, sql)
        assert(GraftRowStore("lw_fail").snapshot eq rowSnap, sql)
        assert(GraftColumnStore("lw_failc").snapshot eq colSnap, sql)
        assert(GraftRowStore.packs.count == packs, sql)
        assert(GraftColumnStore.batches.count == batches, sql)
      }
      assert(scan("lw_fail").size == 40 && scan("lw_failc").size == 40)
    } finally Seq("lw_fail", "lw_failc").foreach(g.dropTable)
  }
}
