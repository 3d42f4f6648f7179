package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowOps, GraftStoreOps}

/** Per-batch HLL distinct digests (`sketch_columns`): approx count
  * distinct answered from refs alone — estimate accuracy, Spark
  * DataSketches interop, mutation semantics (upper bound under
  * delete/overwrite, never an under-count under UPDATE), compact
  * re-tightening, spilled-batch independence, checkpoint round-trip,
  * and the option's validation surface.
  */
class StoreSketchSpec extends SparkTestBase {
  private val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"

  private def ingest(table: String, n: Int, mod: Int,
      batchSize: Int = 512): Unit =
    spark.range(n)
      .select((col("id") % mod).as("k"),
        concat(lit("user_"), col("id") % mod).as("name"),
        col("id").as("v"))
      .write.format(fmt).option("table", table)
      .option("batch_size", batchSize.toString)
      .option("sketch_columns", "k,name")
      .mode("overwrite").save()

  test("estimate from refs alone is within HLL error of exact, across many batches") {
    ingest("sk_basic", 20000, 3000)
    val snap = GraftColumnStore("sk_basic").snapshot
    assert(snap.refs.length > 10, "want many sealed batches")
    val estK = GraftStoreOps.approxDistinct(spark, "sk_basic", "k")
    val estName = GraftStoreOps.approxDistinct(spark, "sk_basic", "name")
    assert(math.abs(estK - 3000) <= 150, s"k estimate $estK vs 3000")
    assert(math.abs(estName - 3000) <= 150, s"name estimate $estName vs 3000")
    // unsketched column refuses with guidance
    val e = intercept[IllegalArgumentException](
      GraftStoreOps.approxDistinct(spark, "sk_basic", "v"))
    assert(e.getMessage.contains("sketch_columns"))
  }

  test("digest bytes are bit-compatible with Spark's hll_* functions") {
    import spark.implicits._
    ingest("sk_interop", 5000, 700)
    val ours = GraftStoreOps.distinctSketchBytes(spark, "sk_interop", "name")
    val ourEst = GraftStoreOps.approxDistinct(spark, "sk_interop", "name")
    // Spark evaluates hll_sketch_estimate over our serialized digest
    val sparkEst = Seq(ours).toDF("sk")
      .select(expr("hll_sketch_estimate(sk)").as("est"))
      .head().getLong(0)
    assert(sparkEst == ourEst, s"spark read $sparkEst, ours $ourEst")
    // same hash space: union with a Spark-built sketch over the SAME
    // values leaves the estimate unchanged (identical registers)
    val sparkSketch = spark.read.format(fmt).option("table", "sk_interop").load()
      .agg(expr("hll_sketch_agg(name)").as("sk")).head().getAs[Array[Byte]](0)
    val unioned = Seq((ours, sparkSketch)).toDF("a", "b")
      .select(expr("hll_sketch_estimate(hll_union(a, b))").as("est"))
      .head().getLong(0)
    assert(unioned == ourEst,
      s"union with Spark-built sketch moved estimate $ourEst -> $unioned")
  }

  test("UPDATE-introduced values are counted via delta digests (no under-count)") {
    ingest("sk_upd", 4000, 500)
    val before = GraftStoreOps.approxDistinct(spark, "sk_upd", "name")
    // rewrite 200 rows to 200 BRAND-NEW names no sealed batch holds
    GraftStoreOps.update(spark, "sk_upd", col("v") < 200,
      Seq("name" -> concat(lit("fresh_"), col("v"))))
    val after = GraftStoreOps.approxDistinct(spark, "sk_upd", "name")
    assert(after >= before + 150,
      s"delta values must raise the estimate: $before -> $after")
    // rows read back agree the new names exist
    val live = spark.read.format(fmt).option("table", "sk_upd").load()
      .filter(col("name").startsWith("fresh_")).count()
    assert(live == 200)
  }

  test("DELETE keeps an upper bound; compact() re-tightens to live rows") {
    ingest("sk_del", 8000, 1000)
    // delete every row of 900 of the 1000 keys
    GraftStoreOps.delete(spark, "sk_del", col("k") >= 100)
    val stale = GraftStoreOps.approxDistinct(spark, "sk_del", "k")
    assert(stale >= 900, s"sealed digests cannot subtract: $stale")
    GraftStoreOps.compact(spark, "sk_del")
    val tightened = GraftStoreOps.approxDistinct(spark, "sk_del", "k")
    assert(math.abs(tightened - 100) <= 10,
      s"compact re-digests live rows only: $tightened vs 100")
  }

  test("estimation never faults spilled batches back in") {
    spark.range(10000)
      .select((col("id") % 1234).as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "sk_spill")
      .option("batch_size", "512")
      .option("sketch_columns", "k")
      .option("eviction_budget_bytes", "1") // everything overflows to disk
      .mode("overwrite").save()
    val resident = GraftColumnStore("sk_spill").snapshot.residentBytes
    assert(resident == 0L, s"expected fully spilled table, resident=$resident")
    val est = GraftStoreOps.approxDistinct(spark, "sk_spill", "k")
    assert(math.abs(est - 1234) <= 62)
    assert(GraftColumnStore("sk_spill").snapshot.residentBytes == 0L,
      "estimate faulted payloads back in")
  }

  test("enabling on an existing table: old batches refuse until compact") {
    spark.range(3000).select((col("id") % 400).as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "sk_late")
      .option("batch_size", "512").mode("overwrite").save()
    // enable via an append (option wins over existing layout)
    spark.range(3000, 3100).select((col("id") % 400).as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "sk_late")
      .option("sketch_columns", "k").mode("append").save()
    val e = intercept[IllegalStateException](
      GraftStoreOps.approxDistinct(spark, "sk_late", "k"))
    assert(e.getMessage.contains("compact"))
    GraftStoreOps.compact(spark, "sk_late")
    val est = GraftStoreOps.approxDistinct(spark, "sk_late", "k")
    assert(math.abs(est - 400) <= 20)
  }

  test("checkpoint/restore re-hydrates the sketch capability") {
    ingest("sk_ckpt", 6000, 800)
    val dir = tempDir("sk_ckpt").toString
    GraftStoreOps.checkpoint(spark, "sk_ckpt", dir)
    GraftColumnStore.drop("sk_ckpt")
    GraftStoreOps.restore(spark, "sk_ckpt", dir)
    assert(GraftColumnStore("sk_ckpt").snapshot.sketchBy == Seq("k", "name"))
    val est = GraftStoreOps.approxDistinct(spark, "sk_ckpt", "name")
    assert(math.abs(est - 800) <= 40)
  }

  test("SQL approx_count_distinct over a clean sketched table plans as a metadata lookup") {
    ingest("sk_sql", 9000, 1100)
    val df = spark.read.format(fmt).option("table", "sk_sql").load()
      .agg(approx_count_distinct(col("k")).as("nd_k"),
        approx_count_distinct(col("name")).as("nd_name"))
    // the scan is gone: the optimized plan is a one-row LocalRelation
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected LocalRelation, got:\n$optimized")
    val row = df.head()
    assert(row.getLong(0) == GraftStoreOps.approxDistinct(spark, "sk_sql", "k"))
    assert(row.getLong(1) == GraftStoreOps.approxDistinct(spark, "sk_sql", "name"))
    assert(math.abs(row.getLong(0) - 1100) <= 55)
  }

  private def plansAsScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
    }.nonEmpty

  test("the metadata rewrite declines whenever it must") {
    ingest("sk_decl", 5000, 600)
    val t = spark.read.format(fmt).option("table", "sk_decl").load()
    // a WHERE means the question is not whole-table
    assert(plansAsScan(t.filter(col("v") > 100)
      .agg(approx_count_distinct(col("k")))))
    // an unsketched column has no digests
    assert(plansAsScan(t.agg(approx_count_distinct(col("v")))))
    // a mixed aggregate list keeps the scan (count is not digest-backed)
    assert(plansAsScan(t.agg(approx_count_distinct(col("k")), count(lit(1)))))
    // a tighter rsd than the digest's own error must scan
    assert(plansAsScan(t.agg(approx_count_distinct(col("k"), 0.005))))
    // conf off → scan
    spark.conf.set("spark.sql.graft.statsApproxDistinct", "false")
    try assert(plansAsScan(t.agg(approx_count_distinct(col("k")))))
    finally spark.conf.unset("spark.sql.graft.statsApproxDistinct")
    // deletes make the union an upper bound, not an estimate → scan,
    // and the scan path answers from live rows
    GraftStoreOps.delete(spark, "sk_decl", col("k") >= 300)
    val afterDelete = t.agg(approx_count_distinct(col("k")).as("nd"))
    assert(plansAsScan(afterDelete))
    val nd = afterDelete.head().getLong(0)
    assert(math.abs(nd - 300) <= 15, s"scan fallback must see live rows: $nd")
    // compact restores eligibility
    GraftStoreOps.compact(spark, "sk_decl")
    val again = t.agg(approx_count_distinct(col("k")).as("nd"))
    assert(!plansAsScan(again), "clean compacted table should rewrite again")
    assert(math.abs(again.head().getLong(0) - 300) <= 15)
  }

  test("empty strings are counted (DataSketches drops zero-length keys; we sentinel them)") {
    import spark.implicits._
    Seq("", "x", "y", "", "z").toDF("name")
      .write.format(fmt).option("table", "sk_empty")
      .option("sketch_columns", "name").mode("overwrite").save()
    assert(GraftStoreOps.approxDistinct(spark, "sk_empty", "name") == 4L)
    // the metadata rewrite agrees with what approx_count_distinct would say
    val viaSql = spark.read.format(fmt).option("table", "sk_empty").load()
      .agg(approx_count_distinct(col("name")).as("nd"))
    assert(!plansAsScan(viaSql))
    assert(viaSql.head().getLong(0) == 4L)
    // UPDATE that introduces "" must raise the delta digest too
    Seq("a", "b").toDF("name")
      .write.format(fmt).option("table", "sk_empty2")
      .option("sketch_columns", "name").mode("overwrite").save()
    GraftStoreOps.update(spark, "sk_empty2", col("name") === "b",
      Seq("name" -> lit("")))
    assert(GraftStoreOps.approxDistinct(spark, "sk_empty2", "name") == 3L)
  }

  test("a partial user-specified schema read of a sketched table still reads") {
    ingest("sk_partial", 1000, 100)
    val vOnly = spark.read
      .schema("v BIGINT")
      .format(fmt).option("table", "sk_partial").load()
    assert(vOnly.count() == 1000)
    assert(vOnly.columns.toSeq == Seq("v"))
  }

  test("sys.sketches surfaces digest coverage and live estimates per sketched column") {
    ingest("sk_sys", 2000, 250)
    val row = spark.sql(
      "SELECT * FROM sys.sketches WHERE table_name = 'sk_sys' AND column_name = 'k'")
      .head()
    assert(row.getAs[Boolean]("all_digested"))
    assert(row.getAs[Int]("n_batches") == row.getAs[Int]("n_digested"))
    assert(math.abs(row.getAs[Long]("estimate") - 250) <= 13)
    // a table that enabled the option mid-life shows partial coverage
    // and a NULL estimate — the dashboard view of "compact to serve"
    spark.range(1000).select((col("id") % 50).as("k"))
      .write.format(fmt).option("table", "sk_sys2")
      .option("batch_size", "256").mode("overwrite").save()
    spark.range(100).select((col("id") % 50).as("k"))
      .write.format(fmt).option("table", "sk_sys2")
      .option("sketch_columns", "k").mode("append").save()
    val partial = spark.sql(
      "SELECT * FROM sys.sketches WHERE table_name = 'sk_sys2'").head()
    assert(!partial.getAs[Boolean]("all_digested"))
    assert(partial.isNullAt(partial.fieldIndex("estimate")))
  }

  test("OPTIMIZE ZORDER rewrite re-digests: estimates keep serving after re-clustering") {
    spark.range(5000)
      .select((col("id") % 700).as("k"), (col("id") % 50).as("a"),
        (col("id") % 97).as("b"))
      .write.format(fmt).option("table", "sk_z")
      .option("batch_size", "512")
      .option("sketch_columns", "k").mode("overwrite").save()
    GraftStoreOps.zorderBy(spark, "sk_z", Seq("a", "b"))
    assert(GraftColumnStore("sk_z").snapshot.sketchBy == Seq("k"))
    val est = GraftStoreOps.approxDistinct(spark, "sk_z", "k")
    assert(math.abs(est - 700) <= 35, s"post-zorder estimate: $est")
  }

  test("DESCRIBE TABLE EXTENDED surfaces the physical layout as table properties") {
    import spark.implicits._
    // (store format, table, layout options, properties DESCRIBE shows)
    val cases = Seq(
      (fmt, "sk_desc", Map("batch_size" -> "2048", "compression" -> "lz4",
        "sketch_columns" -> "k", "expire_seconds" -> "3600"),
        Seq("batch_size=2048", "compression=lz4", "sketch_columns=k", "expire_seconds=3600")),
      (GraftRowOps.FORMAT, "sk_desc_row", Map("key_columns" -> "k", "partition_by" -> "k",
        "buckets" -> "4", "expire_seconds" -> "3600"),
        Seq("key_columns=k", "partition_by=k", "buckets=4", "expire_seconds=3600")))
    for ((format, table, options, want) <- cases) {
      spark.range(100).select(col("id").as("k"), col("id").as("v"))
        .write.format(format).option("table", table).options(options)
        .mode("overwrite").save()
      val desc = spark.sql(s"DESCRIBE TABLE EXTENDED graft.$table")
        .as[(String, String, String)].collect()
      val props = desc.find(_._1 == "Table Properties").map(_._2).getOrElse("")
      want.foreach(p => assert(props.contains(p), s"$table: missing '$p' in: $props"))
    }
  }

  test("ALTER TABLE through the catalog preserves layout (codec, sketch, TTL, buckets)") {
    spark.range(4000)
      .select((col("id") % 16).as("k"), (col("id") % 300).as("s"), col("id").as("v"))
      .write.format(fmt).option("table", "sk_alter")
      .option("partition_by", "k").option("buckets", "4")
      .option("batch_size", "512")
      .option("compression", "lz4")
      .option("sketch_columns", "s,v")
      .option("expire_seconds", "3600")
      .mode("overwrite").save()
    // plain Spark SQL DDL against the DSv2 catalog
    spark.sql("ALTER TABLE graft.sk_alter ADD COLUMNS (extra DOUBLE)")
    spark.sql("ALTER TABLE graft.sk_alter DROP COLUMN v")
    val snap = GraftColumnStore("sk_alter").snapshot
    assert(snap.schema.fieldNames.toSeq == Seq("k", "s", "extra"))
    assert(snap.compression == "lz4", "codec lost by ALTER")
    assert(snap.expireSeconds == 3600L, "TTL lost by ALTER")
    assert(snap.numBuckets == 4 && snap.bucketBy == Seq("k"), "buckets lost")
    // the dropped column left the sketch set; the surviving one still serves
    assert(snap.sketchBy == Seq("s"), s"sketch set after ALTER: ${snap.sketchBy}")
    val est = GraftStoreOps.approxDistinct(spark, "sk_alter", "s")
    assert(math.abs(est - 300) <= 15, s"post-ALTER estimate: $est")
    val e = intercept[Exception](
      GraftStoreOps.approxDistinct(spark, "sk_alter", "v"))
    assert(e.getMessage.contains("sketch"))
    // content: new column is null, rest intact
    val row = spark.table("graft.sk_alter")
      .agg(count(lit(1)), count(col("extra"))).head()
    assert(row.getLong(0) == 4000 && row.getLong(1) == 0)
  }

  test("CREATE validation: unknown column and unsupported type fail fast") {
    val e1 = intercept[Exception](
      spark.range(10).select(col("id").as("a"))
        .write.format(fmt).option("table", "sk_bad")
        .option("sketch_columns", "nope").mode("overwrite").save())
    assert(e1.getMessage.contains("not in schema"))
    val e2 = intercept[Exception](
      spark.range(10).select(col("id").as("a"), array(col("id")).as("arr"))
        .write.format(fmt).option("table", "sk_bad2")
        .option("sketch_columns", "arr").mode("overwrite").save())
    assert(e2.getMessage.contains("unsupported type"))
  }
}
