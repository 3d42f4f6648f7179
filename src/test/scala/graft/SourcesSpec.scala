package graft


import org.apache.spark.sql.functions._

/** External-source surface (SURVEY §2.1 external tables): CSV and JSON
  * write/read roundtrips preserve data, with schema inference and
  * explicit schemas, plus a partitioned-parquet write with partition
  * pruning.
  */
class SourcesSpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  test("csv roundtrip with header + explicit schema") {
    val dir = tmp("graft_csv")
    val cust = Tables.load(spark, sf, "customer")
    cust.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(cust.schema).csv(dir)
    assert(back.count() == cust.count())
    val a = cust.agg(sum("c_acctbal")).head().getDouble(0)
    val b = back.agg(sum("c_acctbal")).head().getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("json roundtrip with schema inference") {
    val dir = tmp("graft_json")
    val nat = Tables.load(spark, sf, "nation")
    nat.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == 25)
    assert(back.columns.sorted.toSeq == nat.columns.sorted.toSeq)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tmp("graft_part")
    Tables.load(spark, sf, "orders")
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("status") === "O")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-filter
    assert(plan.contains("PartitionFilters") && plan.contains("status"),
      s"expected partition pruning in:\n$plan")
    val expected = Tables.load(spark, sf, "orders")
      .filter(col("o_orderstatus") === "O").count()
    assert(pruned.count() == expected)
  }

  test("orc roundtrip preserves schema and values") {
    val dir = tmp("graft_orc")
    val nat = Tables.load(spark, sf, "nation")
    nat.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 25)
    assert(back.schema == nat.schema)
    assert(back.agg(sum("n_nationkey")).head().getLong(0) ==
      nat.agg(sum("n_nationkey")).head().getLong(0))
  }

  test("jdbc external table (embedded Derby): write, read, filter pushdown, join with store") {
    // the reference's row tables double as JDBC-accessible SQL tables
    // (its connector "smart connector" mode reads them over JDBC); the
    // Spark-native analog is an external JDBC relation — written, read
    // back, predicate-pushed, and joined against a graft store table
    // the db path must not pre-exist (Derby refuses a non-empty dir)
    val url = s"jdbc:derby:${tmp("graft_derby")}/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val nat = Tables.load(spark, sf, "nation")
    nat.write.mode("overwrite").jdbc(url, "NATION_J", props)
    val back = spark.read.jdbc(url, "NATION_J", props)
    assert(back.count() == 25)

    // filter pushdown reaches the JDBC scan
    val filtered = back.filter(col("n_regionkey") === 0)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      s"expected JDBC filter pushdown in:\n$plan")
    assert(filtered.count() == nat.filter(col("n_regionkey") === 0).count())

    // join the JDBC dimension against a graft-managed store table
    val g = GraftSession(spark)
    g.createTable("jdbc_join_t",
      Tables.load(spark, sf, "customer").select("c_custkey", "c_nationkey"))
    try {
      val joined = g.table("jdbc_join_t")
        .join(back, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").count()
      assert(joined.count() == 25)
    } finally g.dropTable("jdbc_join_t")

    // UPDATE/DELETE on the registered JDBC view forwards to the database
    // (DMLExternalTable passthrough): Derby executes, Spark re-reads
    // WHERE text is forwarded verbatim, so it is written in the TARGET
    // database's dialect — Derby needs quoted (case-exact) identifiers
    back.createOrReplaceTempView("nation_jdbc")
    spark.sql("""UPDATE nation_jdbc SET n_name = 'GRAFTLAND' WHERE "n_nationkey" = 3""")
    val renamed = spark.read.jdbc(url, "NATION_J", props)
      .filter(col("n_nationkey") === 3).select("n_name").head().getString(0)
    assert(renamed == "GRAFTLAND")
    spark.sql("""DELETE FROM nation_jdbc WHERE "n_regionkey" = 0""")
    assert(spark.read.jdbc(url, "NATION_J", props).count() ==
      25 - nat.filter(col("n_regionkey") === 0).count())
    // the registered view itself sees the database's new state
    assert(spark.table("nation_jdbc").count() ==
      25 - nat.filter(col("n_regionkey") === 0).count())
    spark.catalog.dropTempView("nation_jdbc")
  }
}
