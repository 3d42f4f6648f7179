package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftRowOps, GraftRowStore}

/** Row tables (reference RowFormatRelation.scala:46): row-major keyed
  * store with per-pack PK indexes. Properties proven here:
  *  - scans return exactly the source rows;
  *  - a full-primary-key predicate resolves by INDEX PROBE at planning
  *    (single input partition, probe telemetry), not a scan;
  *  - the PK invariant: INSERT of an existing key is a constraint
  *    violation, PUT INTO upserts;
  *  - update/delete/deleteKeys are tombstone+append and compose;
  *  - a co-bucketed row⋈column join plans without input exchanges
  *    (both stores report the same bucket function).
  */
class RowTableSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def g = GraftSession(spark)

  test("row table scan returns the source rows") {
    val cust = Tables.load(spark, sf, "customer")
    g.createTable("r_cust", cust, keyColumns = Seq("c_custkey"),
      partitionBy = Seq("c_custkey"), buckets = 4, provider = "row")
    val got = g.table("r_cust").orderBy("c_custkey").collect()
    val exp = cust.orderBy("c_custkey").collect()
    assert(got.toSeq == exp.toSeq)
    g.dropTable("r_cust")
  }

  test("full-PK point lookup is an index probe, not a scan") {
    val cust = Tables.load(spark, sf, "customer")
    g.createTable("r_pt", cust, keyColumns = Seq("c_custkey"),
      partitionBy = Seq("c_custkey"), buckets = 8, provider = "row")
    val probesBefore = GraftRowStore.indexProbes.get()
    val q = g.table("r_pt").filter(col("c_custkey").isin(1L, 5L, 9L))
      .select("c_custkey", "c_name")
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 9L))
    assert(GraftRowStore.indexProbes.get() - probesBefore >= 3,
      "expected planning-time index probes")
    assert(q.rdd.getNumPartitions == 1,
      "a point lookup must plan a single probe partition")
    g.dropTable("r_pt")
  }

  test("INSERT of an existing primary key is rejected; PUT INTO upserts") {
    val supp = Tables.load(spark, sf, "supplier")
    g.createTable("r_pk", supp, keyColumns = Seq("s_suppkey"),
      partitionBy = Seq("s_suppkey"), buckets = 4, provider = "row")
    val dupe = supp.filter(col("s_suppkey") === 1L)
    val ex = intercept[Exception] { g.insert("r_pk", dupe) }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(causes(ex).exists(m => m != null && m.contains("primary key")))

    val before = g.table("r_pk").count()
    g.putInto("r_pk", dupe.withColumn("s_acctbal", lit(9999.0)))
    assert(g.table("r_pk").count() == before, "upsert of existing key must not grow")
    val bal = g.table("r_pk").filter(col("s_suppkey") === 1L)
      .select("s_acctbal").collect().map(_.getDouble(0))
    assert(bal.toSeq == Seq(9999.0))
    g.dropTable("r_pk")
  }

  test("update/delete/deleteKeys compose (tombstone + append)") {
    val supp = Tables.load(spark, sf, "supplier")
    g.createTable("r_mut", supp, keyColumns = Seq("s_suppkey"),
      partitionBy = Seq("s_suppkey"), buckets = 4, provider = "row")
    g.update("r_mut", col("s_nationkey") < 5, "s_acctbal" -> lit(0.0))
    g.delete("r_mut", col("s_nationkey") === 24)
    g.deleteKeys("r_mut", spark.range(1, 3).select(col("id").as("s_suppkey")))

    val expected = supp
      .withColumn("s_acctbal",
        when(col("s_nationkey") < 5, 0.0).otherwise(col("s_acctbal")))
      .filter(col("s_nationkey") =!= 24 && !col("s_suppkey").isin(1L, 2L))
      .orderBy("s_suppkey").collect()
    val got = g.table("r_mut").orderBy("s_suppkey").collect()
    assert(got.toSeq == expected.toSeq)

    // compaction drops tombstones without changing content
    GraftRowOps.compact(spark, "r_mut")
    val afterCompact = g.table("r_mut").orderBy("s_suppkey").collect()
    assert(afterCompact.toSeq == expected.toSeq)
    g.dropTable("r_mut")
  }

  test("co-bucketed row table joins a column table without input exchanges") {
    val ord = Tables.load(spark, sf, "orders")
    val cust = Tables.load(spark, sf, "customer")
    g.createTable("r_co_cust", cust, keyColumns = Seq("c_custkey"),
      partitionBy = Seq("c_custkey"), buckets = 4, provider = "row")
    g.createTable("r_co_ord", ord, partitionBy = Seq("o_custkey"), buckets = 4)

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val joined = spark.table("graft.r_co_ord")
        .join(spark.table("graft.r_co_cust"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      joined.collect()
      val shuffles = collectWithSubqueries(joined.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.size <= 1,
        s"row⋈column SPJ expected; got ${shuffles.size} shuffles:\n${joined.queryExecution.executedPlan}")
      val exp = ord.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exp)
    } finally spark.conf.set(key, old)
    g.dropTable("r_co_cust"); g.dropTable("r_co_ord")
  }

  test("SQL surface: CREATE TABLE USING row + UPDATE/DELETE/PUT INTO") {
    Tables.load(spark, sf, "supplier").createOrReplaceTempView("supplier")
    g.sql("CREATE TABLE r_sql USING row OPTIONS (key_columns 's_suppkey', " +
      "partition_by 's_suppkey', buckets '4') AS SELECT * FROM supplier")
    g.sql("UPDATE r_sql SET s_acctbal = 0.0 WHERE s_nationkey < 5")
    g.sql("DELETE FROM r_sql WHERE s_nationkey = 24")
    g.sql("PUT INTO r_sql SELECT s_suppkey + 100000, s_name, 99, s_acctbal " +
      "FROM supplier WHERE s_suppkey <= 2")
    val got = g.table("r_sql").orderBy("s_suppkey").collect()
    val supp = Tables.load(spark, sf, "supplier")
    val expected = supp
      .withColumn("s_acctbal",
        when(col("s_nationkey") < 5, 0.0).otherwise(col("s_acctbal")))
      .filter(col("s_nationkey") =!= 24)
      .unionByName(supp.filter(col("s_suppkey") <= 2)
        .withColumn("s_suppkey", col("s_suppkey") + 100000L)
        .withColumn("s_nationkey", lit(99).cast("int")))
      .orderBy("s_suppkey").collect()
    assert(got.toSeq == expected.toSeq)
    g.dropTable("r_sql")
  }

  test("secondary index: range scan prunes packs, binary-searches survivors") {
    // range-partitioned ingest clusters each pack on o_totalprice, so the
    // index's per-pack (min, max) stats carry real pruning power — the
    // same clustering-at-ingest play as the columnar createIndex
    val ord = Tables.load(spark, sf, "orders")
      .repartitionByRange(8, col("o_totalprice"))
    g.createTable("r_ridx", ord, provider = "row")
    g.sql("CREATE INDEX r_ridx_price ON r_ridx (o_totalprice)")
    val snap = GraftRowStore("r_ridx").snapshot
    assert(snap.indexes.contains("o_totalprice"), "index metadata installed")
    val totalPacks = snap.refs.size
    assert(totalPacks >= 4, s"expected multiple packs, got $totalPacks")

    val (prunedBefore, probedBefore) =
      (GraftRowStore.rangePacksPruned.get(), GraftRowStore.rangePacksProbed.get())
    val q = g.table("r_ridx")
      .filter(col("o_totalprice") > 50000.0 && col("o_totalprice") <= 100000.0)
      .select("o_orderkey", "o_totalprice")
    val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val exp = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 50000.0 && col("o_totalprice") <= 100000.0)
      .select("o_orderkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == exp, "range scan must return exactly the matching rows")
    val pruned = GraftRowStore.rangePacksPruned.get() - prunedBefore
    val probed = GraftRowStore.rangePacksProbed.get() - probedBefore
    assert(probed > 0 && probed < totalPacks,
      s"stats should prune packs: probed $probed of $totalPacks")
    assert(pruned > 0, "pruning telemetry must move")

    // tombstones are honored inside the sorted slice
    GraftRowOps.delete(spark, "r_ridx",
      col("o_totalprice") > 50000.0 && col("o_totalprice") <= 60000.0)
    val afterDelete = g.table("r_ridx")
      .filter(col("o_totalprice") > 50000.0 && col("o_totalprice") <= 100000.0)
      .count()
    assert(afterDelete == exp.count(_._2 > 60000.0), "deleted rows must not resurface")

    // packs appended after the index build have no stats: never pruned,
    // still correct
    g.insert("r_ridx", Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") <= 50000.0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .limit(50))
    val withAppend = g.table("r_ridx")
      .filter(col("o_totalprice") > 50000.0 && col("o_totalprice") <= 100000.0)
      .count()
    assert(withAppend == afterDelete, "appended out-of-range rows don't match")
    g.dropTable("r_ridx")
  }

  test("secondary index survives compaction with rebuilt stats") {
    val ord = Tables.load(spark, sf, "orders")
      .repartitionByRange(8, col("o_totalprice"))
    g.createTable("r_cidx", ord, provider = "row")
    GraftRowOps.createIndex(spark, "r_cidx", "o_totalprice")
    // tombstone some rows, then compact: packs are rewritten with fresh
    // ids — stats must re-key to them and pruning must still bite
    GraftRowOps.delete(spark, "r_cidx", col("o_totalprice") < 10000.0)
    GraftRowOps.compact(spark, "r_cidx")
    val snap = GraftRowStore("r_cidx").snapshot
    assert(snap.indexes.contains("o_totalprice"), "index metadata survives compact")
    val stats = snap.indexes("o_totalprice").packRange
    assert(snap.refs.forall(r => stats.contains(r.id)),
      "stats must cover the POST-compact packs")
    val probedBefore = GraftRowStore.rangePacksProbed.get()
    val prunedBefore = GraftRowStore.rangePacksPruned.get()
    val got = g.table("r_cidx")
      .filter(col("o_totalprice") > 50000.0 && col("o_totalprice") <= 60000.0).count()
    val exp = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 50000.0 && col("o_totalprice") <= 60000.0).count()
    assert(got == exp)
    assert(GraftRowStore.rangePacksPruned.get() - prunedBefore > 0,
      "rebuilt stats must prune post-compact packs")
    assert(GraftRowStore.rangePacksProbed.get() - probedBefore < snap.refs.size)
    g.dropTable("r_cidx")
  }

  test("secondary index yields to bucket pruning on bucket-column equality") {
    val cust = Tables.load(spark, sf, "customer")
    g.createTable("r_bidx", cust, partitionBy = Seq("c_custkey"), buckets = 8,
      provider = "row")
    GraftRowOps.createIndex(spark, "r_bidx", "c_custkey")
    val probedBefore = GraftRowStore.rangePacksProbed.get()
    val q = g.table("r_bidx").filter(col("c_custkey") === 7L).select("c_custkey", "c_name")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(GraftRowStore.rangePacksProbed.get() == probedBefore,
      "bucket-pinning equality must take the bucket path, not the range index")
    assert(q.rdd.getNumPartitions == 1,
      "bucket pruning must narrow the scan to the key's bucket")
    // a real RANGE on the same column still uses the index (buckets can't
    // prune ranges — the hash destroys order)
    val got = g.table("r_bidx").filter(col("c_custkey") < 10L).count()
    assert(got == cust.filter(col("c_custkey") < 10L).count())
    assert(GraftRowStore.rangePacksProbed.get() > probedBefore,
      "a range predicate on the indexed column must probe the index")
    g.dropTable("r_bidx")
  }

  test("secondary index: equality and open ranges on a text column") {
    val cust = Tables.load(spark, sf, "customer")
      .repartitionByRange(4, col("c_mktsegment"))
    g.createTable("r_rtxt", cust, provider = "row")
    GraftRowOps.createIndex(spark, "r_rtxt", "c_mktsegment")
    val got = g.table("r_rtxt").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val exp = cust.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == exp && got.nonEmpty)
    val ge = g.table("r_rtxt").filter(col("c_mktsegment") >= "MACHINERY").count()
    assert(ge == cust.filter(col("c_mktsegment") >= "MACHINERY").count())
    g.dropTable("r_rtxt")
  }

  test("row-table checkpoint/restore keeps keys, buckets and rebuilds indexes") {
    val supp = Tables.load(spark, sf, "supplier")
    g.createTable("r_ckpt", supp, keyColumns = Seq("s_suppkey"),
      partitionBy = Seq("s_suppkey"), buckets = 4, provider = "row")
    GraftRowOps.createIndex(spark, "r_ckpt", "s_acctbal")
    g.update("r_ckpt", col("s_nationkey") === 0, "s_acctbal" -> lit(1.5))
    val expect = g.table("r_ckpt").orderBy("s_suppkey").collect().toSeq
    val dir = tempDir("graft-rckpt-").toString
    g.checkpointTable("r_ckpt", dir)
    g.dropTable("r_ckpt")
    g.restoreTable("r_ckpt", dir)
    val snap = GraftRowStore("r_ckpt").snapshot
    assert(snap.keyColumns == Seq("s_suppkey") && snap.numBuckets == 4)
    assert(snap.indexes.contains("s_acctbal"), "indexes rebuild at restore")
    assert(g.table("r_ckpt").orderBy("s_suppkey").collect().toSeq == expect)
    // PK invariant intact: upsert replaces, insert of dup still rejected
    g.putInto("r_ckpt", supp.filter(col("s_suppkey") === 1L))
    assert(g.table("r_ckpt").count() == supp.count())
    g.dropTable("r_ckpt")
  }

  test("row-table LRU overflow: spilled packs serve point lookups, upserts, scans") {
    val cust = Tables.load(spark, sf, "customer")
    g.createTable("r_evict", cust, keyColumns = Seq("c_custkey"),
      partitionBy = Seq("c_custkey"), buckets = 4, provider = "row",
      evictionBudgetBytes = 4000L)
    val snap = GraftRowStore("r_evict").snapshot
    assert(snap.evictionBudget == 4000L)
    assert(snap.refs.map(r => GraftRowStore.packs.residentBytes(r.id)).sum <= 4000L)
    assert(snap.refs.exists(r => !GraftRowStore.packs.isResident(r.id)),
      "past-budget packs must be on the disk tier")
    // point lookup faults the pack back transiently
    val row = g.table("r_evict").filter(col("c_custkey") === 42L)
      .select("c_custkey", "c_name").head()
    assert(row.getLong(0) == 42L)
    // full scan + upsert against spilled packs
    assert(g.table("r_evict").count() == cust.count())
    GraftRowOps.put(spark, "r_evict",
      cust.filter(col("c_custkey") < 10).withColumn("c_acctbal", lit(0.0)))
    val z = g.table("r_evict").filter(col("c_custkey") < 10)
      .agg(org.apache.spark.sql.functions.sum(col("c_acctbal"))).head().getDouble(0)
    assert(z == 0.0)
    assert(g.table("r_evict").count() == cust.count())
    // budget still enforced after the upsert's mutation swap
    val after = GraftRowStore("r_evict").snapshot
    assert(after.refs.map(r => GraftRowStore.packs.residentBytes(r.id)).sum <= 4000L)
    g.dropTable("r_evict")
  }
}
