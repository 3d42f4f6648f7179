package perfbench

import java.io.File
import java.sql.{Connection, DriverManager}

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import graft.GraftSession
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.streaming.CdcSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.GraftStoreOps
import org.apache.spark.sql.types._

import Main.{items, strings}

object Workloads {
  /** Checks that follow an op take its id plus this offset, so their
    * Spark work is never attributed to the op they check.
    */
  val CheckIds = 1000000000L

  /** Rows rendered as strings, the form the op stream's expectations use. */
  def render(rows: Seq[Row]): Seq[Seq[String]] =
    rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString))

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new AssertionError(what)

  /** Closed loop for one client: run whole rounds of the op rotation,
    * so every run sees the same mix, and stop at the round boundary
    * nearest to the budget (at least one round): another round starts
    * only while ending it would land closer to the budget than stopping.
    * Returns the time used, in ms.
    */
  def loop(ops: Iterator[JsonNode], budgetMs: Double, round: Int)(
      run: JsonNode => OpRec): Double = {
    var busy = 0.0
    var n = 0
    def another: Boolean = n == 0 || n % round != 0 || {
      val perRound = busy / (n / round)
      busy + perRound / 2 < budgetMs
    }
    while (another && ops.hasNext) {
      val r = run(ops.next())
      busy += r.end - r.start
      n += 1
    }
    busy
  }
}

import Workloads._

/** `analytics`: one client running seeded read-only SQL templates over
  * store tables (lineitem and orders co-bucketed on orderkey, customer
  * as a row table, small dimension tables, one dashboard view).
  */
final class Analytics(spark: SparkSession, g: GraftSession, rec: Recorder, in: JsonNode)
    extends Workload {
  private val scale = Data.Scale(in.get("scale").get("orders").asLong,
    in.get("scale").get("customers").asLong, in.get("scale").get("parts").asLong,
    in.get("scale").get("suppliers").asLong)
  private val viewName = in.get("view_name").asText
  private val buckets = in.get("buckets").asInt

  private def frames: Seq[(String, DataFrame)] = Seq(
    "lineitem" -> Data.lineitem(spark, scale), "orders" -> Data.orders(spark, scale),
    "customer" -> Data.customer(spark, scale), "part" -> Data.part(spark, scale),
    "supplier" -> Data.supplier(spark, scale), "nation" -> Data.nation(spark),
    "region" -> Data.region(spark))

  def load(round: Int): Unit = {
    if (round > 0) g.dropMaterializedView(viewName)
    frames.foreach {
      case (t @ "lineitem", df) =>
        g.createTable(t, df, partitionBy = Seq("l_orderkey"), buckets = buckets)
      case (t @ "orders", df) =>
        g.createTable(t, df, keyColumns = Seq("o_orderkey"),
          partitionBy = Seq("o_orderkey"), buckets = buckets)
      case (t @ "customer", df) =>
        g.createTable(t, df, keyColumns = Seq("c_custkey"), provider = "row")
      case (t, df) => g.createTable(t, df)
    }
    g.createMaterializedView(viewName, in.get("view_sql").asText, buckets = buckets)
  }

  /** The warm-up runs every template at its fixed check parameters; the
    * answers are kept for `verify`.
    */
  private var warmAnswers = Seq.empty[Seq[Seq[String]]]

  def warmup(): Unit =
    warmAnswers = items(in.get("checks")).map(c => render(spark.sql(c.get("sql").asText).collect().toSeq))

  def run(seconds: Double): Double = {
    val t0 = rec.now()
    loop(items(in.get("ops")).iterator, seconds * 1000, in.get("round").asInt) { o =>
      val kind = o.get("kind").asText
      rec.op(o.get("id").asLong, 0, kind, write = false) {
        val df = spark.sql(o.get("sql").asText)
        val rows = df.collect()
        val served =
          if (rec.trace && o.get("view_eligible").asBoolean)
            Map("view_eligible" -> 1.0, "view_served" ->
              (if (df.queryExecution.optimizedPlan.toString.contains(viewName)) 1.0 else 0.0))
          else Map.empty[String, Double]
        (rows.length.toLong, served)
      }
    }
    (rec.now() - t0) / 1000
  }

  /** Each template at a fixed parameter set: the store answer must equal
    * the same SQL over the generator's plain Spark frames (no store).
    */
  override def verify(): Unit = {
    frames.foreach { case (t, df) => df.cache().createOrReplaceTempView(s"raw_$t") }
    items(in.get("checks")).zip(warmAnswers).foreach { case (c, got) =>
      rec.op(c.get("id").asLong, 0, "check:" + c.get("name").asText, write = false) {
        val want = render(spark.sql(c.get("raw_sql").asText).collect().toSeq)
        check(got == want, s"store answer differs from plain Spark: " +
          s"${got.take(3)} vs ${want.take(3)}")
        (got.size.toLong, Map.empty)
      }
    }
  }
}

/** `serving`: closed-loop JDBC clients through Spark's Thrift server,
  * each on its own connection, mixing point reads, indexed range reads
  * and single-row writes on a column table and a row table.
  */
final class Serving(spark: SparkSession, g: GraftSession, rec: Recorder, in: JsonNode)
    extends Workload {
  private val scale = Data.Scale(in.get("scale").get("orders").asLong,
    in.get("scale").get("customers").asLong, 1, 1)
  private var server: AnyRef = _ // HiveThriftServer2, a class private to Spark
  private var port = 0
  private var conns = Seq.empty[Connection]
  private val connectMs = mutable.ArrayBuffer.empty[Double]

  private def connect(): Connection = {
    val s = rec.now()
    var conn: Connection = null
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (conn == null) {
      try conn = DriverManager.getConnection(s"jdbc:hive2://localhost:$port/", "", "")
      catch {
        case e: java.sql.SQLException =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(100)
      }
    }
    connectMs += rec.now() - s
    conn
  }

  def load(round: Int): Unit = {
    if (server == null) {
      port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
      spark.conf.set("hive.server2.thrift.port", port.toString)
      spark.conf.set("hive.server2.thrift.bind.host", "localhost")
      server = org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
        .startWithContext(spark.sqlContext)
      Class.forName("org.apache.hive.jdbc.HiveDriver")
    }
    conns.foreach(_.close())
    g.createTable("sv_orders", Data.orders(spark, scale), keyColumns = Seq("o_orderkey"),
      partitionBy = Seq("o_orderkey"), buckets = in.get("buckets").asInt)
    g.createTable("sv_customer", Data.customer(spark, scale),
      keyColumns = Seq("c_custkey"), provider = "row")
    g.sql("CREATE INDEX sv_customer_bal ON sv_customer (c_acctbal)")
    conns = items(in.get("clients")).map(_ => connect())
  }

  def warmup(): Unit = clients(items(in.get("warmup"))) { (ops, st, _) =>
    items(ops).foreach(o => execute(st, o))
  }

  /** One thread per client, each on its own connection; waits for all
    * and rethrows the first client's failure.
    */
  private def clients(streams: Seq[JsonNode])(
      body: (JsonNode, java.sql.Statement, Int) => Unit): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = streams.zip(conns).zipWithIndex.map { case ((ops, c), i) =>
      val t = new Thread(() => {
        val st = c.createStatement()
        try body(ops, st, i)
        catch { case e: Throwable => failures.add(e) }
        finally st.close()
      }, s"perfbench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
  }

  private def execute(st: java.sql.Statement, o: JsonNode): Seq[Seq[String]] = {
    val sql = o.get("sql").asText
    // trailing, so statement-leading keywords (PUT INTO, UPDATE) still parse
    val text = if (rec.trace) s"$sql /* ${rec.tag(o.get("id").asLong)} */" else sql
    if (st.execute(text)) {
      val rs = st.getResultSet
      try {
        val n = rs.getMetaData.getColumnCount
        val out = mutable.ArrayBuffer.empty[Seq[String]]
        while (rs.next()) out += (1 to n).map(i => String.valueOf(rs.getString(i)))
        out.toSeq
      } finally rs.close()
    } else Nil
  }

  /** Expectations come with the op: an exact row count, exact rows
    * (read-your-own-write), or a column range every row must fall in.
    */
  private def verifyRead(o: JsonNode, rows: Seq[Seq[String]]): Unit = {
    val e = o.get("expect")
    if (e == null) return
    if (e.has("count")) check(rows.size == e.get("count").asInt,
      s"expected ${e.get("count").asInt} rows, got ${rows.size}: ${o.get("sql").asText}")
    if (e.has("rows")) {
      val want = items(e.get("rows")).map(strings)
      check(rows == want, s"read missed own write: got $rows, want $want: ${o.get("sql").asText}")
    }
    if (e.has("range")) {
      val Seq(i, lo, hi) = items(e.get("range")).map(_.asLong)
      check(rows.forall { r => val v = r(i.toInt).toLong; v >= lo && v <= hi },
        s"row outside [$lo, $hi]: ${o.get("sql").asText}")
    }
  }

  def run(seconds: Double): Double = {
    val t0 = rec.now()
    clients(items(in.get("clients"))) { (ops, st, i) =>
      loop(items(ops).iterator, seconds * 1000, in.get("round").asInt) { o =>
        rec.op(o.get("id").asLong, i, o.get("kind").asText, o.get("write").asBoolean) {
          val rows = execute(st, o)
          verifyRead(o, rows)
          (rows.size.toLong, Map.empty)
        }
      }
    }
    (rec.now() - t0) / 1000
  }

  override def counters: Map[String, Double] =
    Map("jdbc.connect_ms" -> connectMs.sum / math.max(1, connectMs.size))

  override def close(): Unit = {
    conns.foreach(_.close())
    if (server != null) server.getClass.getMethod("stop").invoke(server)
  }
}

/** A change event for the CDC stream (CdcSink's event contract). */
final case class Ev(k: Long, cust: Long, amount: Long, qty: Long, _eventType: Int, ord: Long)

/** `ingest`: one client; each cycle applies a CDC micro-batch through
  * CdcSink, refreshes two views, reads the view-served dashboard, then
  * applies SQL DML and refreshes and reads again. Cycles rotate the
  * move kind so every refresh path runs.
  */
final class Ingest(spark: SparkSession, g: GraftSession, rec: Recorder, in: JsonNode,
    work: File) extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val views = strings(in.get("views"))
  private val dashboard = in.get("dashboard").asText
  private var stream: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private val refreshCounts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val salesSchema = StructType(Seq("k", "cust", "amount", "qty")
    .map(StructField(_, LongType, nullable = false)))

  private def rowsOf(n: JsonNode, schema: StructType): DataFrame = {
    val rows = items(n).map { r =>
      Row.fromSeq(items(r).zip(schema.fields).map { case (v, f) =>
        if (f.dataType == LongType) v.asLong else v.asText })
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  def load(round: Int): Unit = {
    if (query != null) query.stop()
    views.reverse.foreach(v => if (round > 0) g.dropMaterializedView(v))
    g.createTable("ig_sales", rowsOf(in.get("base"), salesSchema), keyColumns = Seq("k"),
      partitionBy = Seq("k"), buckets = in.get("buckets").asInt)
    g.createTable("ig_cust", rowsOf(in.get("dims"), StructType(Seq(
      StructField("cust", LongType, nullable = false),
      StructField("region", StringType, nullable = false)))), keyColumns = Seq("cust"))
    items(in.get("view_sql")).zip(views).foreach { case (s, v) =>
      g.createMaterializedView(v, s.asText, buckets = in.get("buckets").asInt)
    }
    // a fresh stream per load: the sink's exactly-once state is keyed
    // by query name, and batch ids restart with each new stream
    stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val sink = CdcSink(g, "ig_sales", Seq("k"), "ord", queryName = s"perfbench_$round")
    query = stream.toDF().writeStream
      .option("checkpointLocation", new File(work, s"checkpoint_$round").getPath)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val op = rec.streamingOp.get
        rec.adopt(op)
        rec.markBatch(id, op)
        rec.span("streaming", "add_batch")(sink(df, id))
      }
      .outputMode("update").start()
  }

  def warmup(): Unit = {
    items(in.get("warmup")).foreach(cycle)
    refreshCounts.clear()
  }

  private def dashboardRows(): (Seq[Seq[String]], Double) = {
    val df = spark.sql(dashboard)
    val rows = render(df.collect().toSeq)
    val served = if (rec.trace && df.queryExecution.optimizedPlan.toString
      .contains(views.last)) 1.0 else 0.0
    (rows, served)
  }

  /** One cycle; returns (rows ingested, info). Append and delete
    * cycles refresh once after both steps; update and mixed cycles also
    * refresh between the CDC batch and the SQL step.
    */
  private def cycle(c: JsonNode): (Long, Map[String, Double]) = {
    val info = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def refreshAndRead(expect: JsonNode, lagFrom: Double, lagKey: String): Unit = {
      views.foreach { v =>
        val s = rec.now()
        val path = g.refreshMaterializedView(v)
        val e = rec.now()
        rec.record("matview", s"refresh.$path", s, e)
        info(s"refreshes.$path") += 1
        info(s"refresh_ms.$path") += e - s
        refreshCounts(path) += 1
      }
      val (rows, served) = rec.span("client", "dashboard")(dashboardRows())
      info(lagKey) = rec.now() - lagFrom
      info("view_eligible") += 1
      info("view_served") += served
      val want = items(expect).map(strings)
      check(rows == want, s"dashboard after ${c.get("kind").asText} cycle: got $rows, want $want")
    }
    val events = items(c.get("events")).map { e =>
      val Seq(t, k, cu, a, q, o) = items(e).map(_.asLong)
      Ev(k, cu, a, q, t.toInt, o)
    }
    val t0 = rec.now()
    rec.streamingOp.set(rec.currentOpId)
    rec.span("streaming", "micro_batch") {
      stream.addData(events)
      query.processAllAvailable()
    }
    val t1 = if (c.get("expect_cdc").isNull) t0 else {
      refreshAndRead(c.get("expect_cdc"), t0, "lag_cdc_ms")
      rec.now()
    }
    strings(c.get("sql")).foreach { s =>
      rec.span("store", s.split("\\s+").head.toLowerCase)(g.sql(s))
    }
    refreshAndRead(c.get("expect_sql"), t1, "lag_sql_ms")
    if (c.get("maintain").asBoolean) {
      rec.span("store", "rollup")(GraftStoreOps.rollupSmallBatches(spark, "ig_sales"))
      rec.span("store", "compact")(GraftStoreOps.compact(spark, "ig_sales"))
    }
    (c.get("rows").asLong, info.toMap)
  }

  def run(seconds: Double): Double = {
    val t0 = rec.now()
    loop(items(in.get("ops")).iterator, seconds * 1000, in.get("round").asInt) { c =>
      val r = rec.op(c.get("id").asLong, 0, c.get("kind").asText, write = true)(cycle(c))
      // the rewrite-off answer is the reference for the view-served one
      rec.op(CheckIds + c.get("id").asLong, 0, "check:rewrite", write = false) {
        val (served, _) = dashboardRows()
        spark.conf.set("spark.sql.graft.matviewRewrite", "false")
        val plain = try dashboardRows()._1 finally
          spark.conf.set("spark.sql.graft.matviewRewrite", "true")
        check(served == plain, s"view-served $served differs from rewrite-off $plain")
        (served.size.toLong, Map.empty)
      }
      r
    }
    (rec.now() - t0) / 1000
  }

  override def counters: Map[String, Double] =
    refreshCounts.map { case (p, n) => s"matview.refreshes.$p" -> n }.toMap

  override def close(): Unit = if (query != null) query.stop()
}

/** `pipeline`: one client running one graft.operators call per op on a
  * seeded shard of the documents or embeddings table. The op is the call
  * (its eager build work) plus a noop materialization of its result.
  */
final class Pipeline(spark: SparkSession, g: GraftSession, rec: Recorder, in: JsonNode)
    extends Workload {
  private val expectedDistinct = mutable.Map.empty[(Long, Long), Long]

  def load(round: Int): Unit = {
    g.createTable("documents", Data.documents(spark, in.get("documents").asLong))
    g.createTable("embeddings", Data.embeddings(spark, in.get("vectors").asLong,
      in.get("dims").asInt))
  }

  def warmup(): Unit = items(in.get("warmup")).foreach(o => operate(o))

  private def shard(o: JsonNode): DataFrame = {
    val (lo, hi) = (o.get("lo").asLong, o.get("hi").asLong)
    if (o.get("kind").asText == "brute_topk")
      g.table("embeddings").filter(col("vec_id") >= lo && col("vec_id") < hi)
    else g.table("documents").filter(col("doc_id") >= lo && col("doc_id") < hi)
  }

  /** Build (the operator call) then execute; returns result rows for
    * collected results, -1 for noop-materialized ones.
    */
  private def operate(o: JsonNode): Long = {
    val kind = o.get("kind").asText
    val docs = shard(o)
    val built = rec.span("operators", s"$kind.build") {
      kind match {
        case "minhash" => Dedup.minhashNearDupsFast(docs, "doc_id", "text")
        case "exact_dedup" => Dedup.exactDedup(docs, "doc_id", "text")
        case "dup_clusters" =>
          Dedup.dupClusters(Dedup.minhashNearDupsFast(docs, "doc_id", "text"))
        case "tfidf" => TextAnalysis.tfidfKeywords(docs, "doc_id", "text", 3)
        case "brute_topk" =>
          val q = g.table("embeddings").filter(col("vec_id").isin(
            items(o.get("queries")).map(_.asLong): _*))
          Similarity.bruteForceTopK(docs, q, "vec_id", "embedding", 10)
      }
    }
    rec.span("operators", s"$kind.exec") {
      if (kind == "exact_dedup") built.collect().length.toLong
      else { built.write.format("noop").mode("overwrite").save(); -1L }
    }
  }

  def run(seconds: Double): Double = {
    val t0 = rec.now()
    loop(items(in.get("ops")).iterator, seconds * 1000, in.get("round").asInt) { o =>
      val kind = o.get("kind").asText
      var rows = -1L
      val r = rec.op(o.get("id").asLong, 0, kind, write = false) {
        rows = operate(o)
        (math.max(rows, 0L), Map("docs" -> (o.get("hi").asLong - o.get("lo").asLong).toDouble))
      }
      if (kind == "exact_dedup" && r.ok) {
        // the reference count: a plain group-by over the same shard
        rec.op(CheckIds + o.get("id").asLong, 0, "check:exact_dedup", write = false) {
          val key = (o.get("lo").asLong, o.get("hi").asLong)
          val want = expectedDistinct.getOrElseUpdate(key,
            shard(o).groupBy("text").count().count())
          check(rows == want, s"exactDedup kept $rows documents, group-by finds $want")
          (want, Map.empty)
        }
      }
      r
    }
    (rec.now() - t0) / 1000
  }
}
