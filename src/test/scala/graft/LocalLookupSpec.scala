package graft

import java.util.concurrent.TimeUnit

import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectLimitExec, FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.LocalLookupExec
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll

/** Jobless key lookups (the reference's routed region get): a prepared
  * plan that is Project/Filter over one store scan pinned to a bounded
  * key lookup runs its single partition on the calling thread. Proven
  * here:
  *  - row-table PK reads, IN over keys, key-bucketed column-table PK
  *    reads and reads of keys inserted after the load submit no job and
  *    answer exactly what the job path answers;
  *  - non-key filters, index ranges, unbucketed column tables, joins and
  *    aggregates keep their jobs;
  *  - the driver-side task context is unset after success and failure,
  *    carries the session's confs, and its metrics reach the SQL status
  *    store.
  */
class LocalLookupSpec extends SparkTestBase with BeforeAndAfterAll {

  private def g = GraftSession(spark)

  override def afterAll(): Unit =
    try Seq("lk_cust", "lk_orders", "lk_flat").foreach(g.dropTable)
    finally super.afterAll()

  private lazy val tables: Unit = {
    g.createTable("lk_cust", Tables.load(spark, sf, "customer"),
      keyColumns = Seq("c_custkey"), provider = "row")
    g.sql("CREATE INDEX lk_cust_bal ON lk_cust (c_acctbal)")
    g.createTable("lk_orders", Tables.load(spark, sf, "orders"),
      keyColumns = Seq("o_orderkey"), partitionBy = Seq("o_orderkey"), buckets = 4)
    g.createTable("lk_flat", Tables.load(spark, sf, "orders"),
      keyColumns = Seq("o_orderkey"))
  }

  private def rows(plan: SparkPlan, rs: Array[org.apache.spark.sql.catalyst.InternalRow]) =
    rs.map(_.toSeq(plan.schema).mkString("|")).toSeq.sorted

  /** The job path of the same prepared plan: its RDD, collected. */
  private def viaJob(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan
    rows(plan, plan.execute().map(_.copy()).collect())
  }

  private def local(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalLookupExec]

  private val lookups = Seq(
    "row-table PK read" ->
      "SELECT c_custkey, c_name, c_acctbal FROM graft.lk_cust WHERE c_custkey = 7",
    "IN over row-table keys" ->
      "SELECT c_custkey, c_name FROM graft.lk_cust WHERE c_custkey IN (1, 5, 9)",
    "key-bucketed column-table PK read" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM graft.lk_orders WHERE o_orderkey = 7")

  test("key lookups submit no job and answer exactly like the job path") {
    tables
    for ((what, sql) <- lookups) {
      val df = spark.sql(sql)
      assert(local(df), s"$what:\n${df.queryExecution.executedPlan}")
      val runs = df.queryExecution.executedPlan.metrics("numLocalRuns")
      val before = runs.value
      var got: Seq[String] = Nil
      assert(jobsDuring {
        got = rows(df.queryExecution.executedPlan, df.queryExecution.executedPlan.executeCollect())
      } == 0, what)
      assert(runs.value - before == 1, what)
      assert(got.nonEmpty, what)
      assert(got == viaJob(df), what)
      // Dataset.collect and the executeTake entry take the same path
      assert(jobsDuring(assert(df.collect().length == got.size)) == 0, what)
      assert(jobsDuring {
        assert(df.queryExecution.executedPlan.executeTake(1).length == 1)
      } == 0, what)
      assert(TaskContext.get() == null)
    }
  }

  test("a key inserted after the load is read without a job (row and column table)") {
    tables
    import spark.implicits._
    val cust = g.table("lk_cust")
    g.insert("lk_cust", cust.filter(col("c_custkey") === 3L)
      .withColumn("c_custkey", lit(900001L)).withColumn("c_name", lit("late")))
    val orders = g.table("lk_orders")
    g.insert("lk_orders", orders.filter(col("o_orderkey") === 7L)
      .withColumn("o_orderkey", lit(900003L)))
    for (sql <- Seq(
        "SELECT c_custkey, c_name FROM graft.lk_cust WHERE c_custkey = 900001",
        "SELECT o_orderkey, o_custkey FROM graft.lk_orders WHERE o_orderkey = 900003")) {
      val df = spark.sql(sql)
      var got: Array[org.apache.spark.sql.Row] = null
      assert(jobsDuring { got = df.collect() } == 0, sql)
      assert(got.length == 1 && got.head.getLong(0) >= 900001L, sql)
      assert(local(df), sql)
      assert(rows(df.queryExecution.executedPlan,
        df.queryExecution.executedPlan.executeCollect()) == viaJob(df), sql)
    }
    assert(spark.sql("SELECT c_name FROM graft.lk_cust WHERE c_custkey = 900001")
      .as[String].collect().toSeq == Seq("late"))
  }

  test("non-key reads, index ranges, unbucketed tables, joins and aggregates keep their jobs") {
    tables
    val jobful = Seq(
      "SELECT c_custkey FROM graft.lk_cust WHERE c_name = 'Customer#000000007'",
      "SELECT c_custkey FROM graft.lk_cust WHERE c_acctbal BETWEEN 100 AND 200",
      "SELECT o_orderkey, o_totalprice FROM graft.lk_flat WHERE o_orderkey = 7",
      "SELECT c_name, o_orderkey FROM graft.lk_cust c JOIN graft.lk_orders o " +
        "ON c.c_custkey = o.o_custkey WHERE c.c_custkey = 7",
      "SELECT count(*) FROM graft.lk_cust WHERE c_custkey = 7")
    for (sql <- jobful) {
      val df = spark.sql(sql)
      assert(jobsDuring(df.collect()) > 0, sql)
      assert(!df.queryExecution.executedPlan.exists(_.isInstanceOf[LocalLookupExec]),
        s"$sql:\n${df.queryExecution.executedPlan}")
    }
  }

  test("head, first and a key LIMIT read without a job; a non-key LIMIT keeps its job") {
    tables
    val byKey = g.table("lk_cust").filter(col("c_custkey") === 7L).select("c_custkey", "c_name")
    val expect = viaJob(byKey)
    val limited = Seq(
      "SELECT c_custkey, c_name FROM graft.lk_cust WHERE c_custkey = 7 LIMIT 1",
      "SELECT o_orderkey, o_custkey FROM graft.lk_orders WHERE o_orderkey = 7 LIMIT 1")
    for ((what, run) <- Seq[(String, () => Seq[org.apache.spark.sql.Row])](
        "head()" -> (() => Seq(byKey.head())),
        "first()" -> (() => Seq(byKey.first())),
        "head(2)" -> (() => byKey.head(2).toSeq),
        "LIMIT 1" -> (() => spark.sql(limited.head).collect().toSeq))) {
      var got: Seq[org.apache.spark.sql.Row] = Nil
      assert(jobsDuring { got = run() } == 0, what)
      assert(got.map(_.mkString("|")) == expect, what)
    }
    for (sql <- limited) {
      val df = spark.sql(sql)
      assert(df.queryExecution.executedPlan match {
        case l: CollectLimitExec => l.child.isInstanceOf[LocalLookupExec]
        case _ => false
      }, s"$sql:\n${df.queryExecution.executedPlan}")
      var n = 0
      assert(jobsDuring { n = df.collect().length } == 0, sql)
      assert(n == 1, sql)
    }
    val nonKey = spark.sql(
      "SELECT c_custkey FROM graft.lk_cust WHERE c_name = 'Customer#000000007' LIMIT 1")
    assert(jobsDuring(assert(nonKey.collect().length == 1)) > 0)
    assert(!nonKey.queryExecution.executedPlan.exists(_.isInstanceOf[LocalLookupExec]))
  }

  test("the task context is unset after success and failure; errors match the job path") {
    tables
    import spark.implicits._
    g.createTable("lk_big", Seq((1L, Long.MaxValue), (2L, 5L)).toDF("k", "v"),
      keyColumns = Seq("k"), provider = "row")
    try withConf("spark.sql.ansi.enabled" -> "true") {
      val ok = spark.sql("SELECT CAST(v AS INT) FROM graft.lk_big WHERE k = 2")
      assert(ok.as[Int].collect().toSeq == Seq(5))
      assert(TaskContext.get() == null)

      def condition(t: Throwable): Option[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .collectFirst { case s: SparkThrowable if s.getCondition != null => s.getCondition }
      val bad = spark.sql("SELECT CAST(v AS INT) FROM graft.lk_big WHERE k = 1")
      assert(local(bad))
      val onCaller = intercept[Throwable](bad.collect())
      assert(TaskContext.get() == null)
      val onJob = intercept[Throwable](viaJob(bad))
      assert(condition(onCaller).contains("CAST_OVERFLOW"), onCaller.toString)
      assert(condition(onCaller) == condition(onJob), onJob.toString)
    } finally g.dropTable("lk_big")
  }

  test("session confs reach code running on the caller thread") {
    tables
    val probe = udf((_: Long) => SQLConf.get.getConfString("spark.sql.graft.lookupProbe", "unset"))
    withConf("spark.sql.graft.lookupProbe" -> "seen") {
      val df = g.table("lk_cust").filter(col("c_custkey") === 11L)
        .select(probe(col("c_custkey")))
      assert(local(df), df.queryExecution.executedPlan.toString)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("seen"))
    }
  }

  test("metrics of a jobless run show in the plan and in the SQL status store") {
    tables
    val df = spark.sql(
      "SELECT c_custkey, c_name FROM graft.lk_cust WHERE c_custkey IN (2, 4, 6)")
    assert(df.collect().length == 3)
    assert(local(df))
    val filter = df.queryExecution.executedPlan.collectFirst { case f: FilterExec => f }.get
    val metric = filter.metrics("numOutputRows")
    assert(metric.value == 3)
    // the driver-side updates are posted to the execution's listener
    val store = spark.sharedState.statusStore
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    def posted: Option[String] = store.executionsList().reverseIterator
      .find(_.metrics.exists(_.accumulatorId == metric.id))
      .flatMap(e => store.executionMetrics(e.executionId).get(metric.id))
    while (posted.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(posted.contains("3"), posted.toString)
  }
}
