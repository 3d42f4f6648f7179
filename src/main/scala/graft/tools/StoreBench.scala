package graft.tools

import graft.GraftConf
import org.apache.spark.sql.functions._

/** Dev micro-bench for the store ingest + scan paths (not part of the
  * driver contract).
  */
object StoreBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftConf.session("graft-store-bench", 32)
    spark.sparkContext.setLogLevel("ERROR")
    val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
    val li = graft.Tables.load(spark, sfDir, "lineitem")
    li.write.format("noop").mode("overwrite").save() // warm parquet read

    def time(tag: String)(f: => Unit): Unit = {
      val runs = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$tag%-28s ${runs.min}%.3f s (min of ${runs.size})")
    }

    for (bs <- Seq(4096, 16384, 65536)) {
      time(s"ingest bs=$bs") {
        li.write.format(fmt).option("table", "sb").option("batch_size", bs.toString)
          .mode("overwrite").save()
      }
      val df = spark.read.format(fmt).option("table", "sb").load()
      time(s"scan-agg strings bs=$bs") {
        df.groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)), sum("l_quantity"))
          .write.format("noop").mode("overwrite").save()
      }
      // dictionary-grouping fast path: aggregate pushdown on vs off
      // (single dict-encoded group column → per-batch code-indexed
      // accumulators vs Spark's row-wise string-hashing HashAggregate)
      for (push <- Seq(true, false)) {
        spark.conf.set("spark.sql.graft.aggPushdown", push.toString)
        time(s"dict-groupBy push=$push bs=$bs") {
          df.groupBy("l_returnflag")
            .agg(count(lit(1)), sum("l_quantity"), max("l_extendedprice"))
            .write.format("noop").mode("overwrite").save()
        }
      }
      spark.conf.unset("spark.sql.graft.aggPushdown")
    }
    val docs = graft.Tables.load(spark, sfDir, "documents")
    docs.write.format("noop").mode("overwrite").save()
    for (bs <- Seq(4096, 16384)) {
      time(s"docs ingest bs=$bs") {
        docs.write.format(fmt).option("table", "sbd").option("batch_size", bs.toString)
          .mode("overwrite").save()
      }
      val dd = spark.read.format(fmt).option("table", "sbd").load()
      time(s"docs text-agg bs=$bs") {
        dd.select(sum(length(col("text"))), countDistinct(col("lang")))
          .write.format("noop").mode("overwrite").save()
      }
    }
    // decompose q_update: ingest + update-op + final agg
    val g = graft.GraftSession(spark)
    time("q_update: createTable") {
      g.createTable("t_upd_b", li)
    }
    time("q_update: update op") {
      g.update("t_upd_b", col("l_returnflag") === "R",
        "l_discount" -> lit(0.0),
        "l_extendedprice" -> round(col("l_extendedprice") * 0.95, 2))
    }
    time("q_update: final agg") {
      g.table("t_upd_b").groupBy("l_returnflag")
        .agg(count(lit(1)), sum("l_discount"))
        .write.format("noop").mode("overwrite").save()
    }
    // decompose q_put_into
    val ord = graft.Tables.load(spark, sfDir, "orders")
    ord.write.format("noop").mode("overwrite").save()
    for (bs <- Seq(4096, 16384)) {
      time(s"orders bucketed ingest bs=$bs") {
        ord.write.format(fmt).option("table", "t_put_b").option("batch_size", bs.toString)
          .option("partition_by", "o_orderkey").option("buckets", "8")
          .option("key_columns", "o_orderkey")
          .mode("overwrite").save()
      }
      val updates = ord.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("U"))
      val inserts = ord.filter(col("o_orderkey") % 5 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      time(s"putInto op bs=$bs") {
        org.apache.spark.sql.graft.store.GraftStoreOps.putInto(spark, "t_put_b",
          updates.unionByName(inserts))
      }
      time(s"final agg bs=$bs") {
        spark.read.format(fmt).option("table", "t_put_b").load()
          .groupBy("o_orderstatus").agg(count(lit(1)))
          .write.format("noop").mode("overwrite").save()
      }
    }
    // dictionary-code join fast path (DictJoin) vs Spark's broadcast
    // hash join, same store table + same dimension, identical output
    {
      import spark.implicits._
      li.write.format(fmt).option("table", "sb_dj").option("batch_size", "16384")
        .mode("overwrite").save()
      val dim = Seq(("R", 1, "returned"), ("A", 2, "acked"), ("N", 3, "new"))
        .toDF("flag", "rank", "label")
      val probe = spark.read.format(fmt).option("table", "sb_dj").load()
      time("string join: spark BHJ") {
        probe.join(broadcast(dim), probe("l_returnflag") === dim("flag"))
          .drop(dim("flag"))
          .write.format("noop").mode("overwrite").save()
      }
      time("string join: dictJoin") {
        org.apache.spark.sql.graft.store.DictJoin
          .dictJoin(spark, "sb_dj", "l_returnflag", dim, "flag")
          .write.format("noop").mode("overwrite").save()
      }
      // the transparent path: same df.join text as the BHJ arm, rewritten
      // to DictJoinExec by the opt-in strategy
      spark.conf.set(org.apache.spark.sql.graft.store.DictJoinStrategy.CONF_KEY, "true")
      try {
        time("string join: strategy on") {
          probe.join(dim, probe("l_returnflag") === dim("flag"))
            .drop(dim("flag"))
            .write.format("noop").mode("overwrite").save()
        }
      } finally {
        // a failing arm must not leave the strategy on for later arms
        spark.conf.unset(org.apache.spark.sql.graft.store.DictJoinStrategy.CONF_KEY)
      }
      // existence shapes: the EXISTS/NOT-EXISTS dimension filters —
      // Spark's broadcast semi/anti vs the memoized per-code existence
      // probe (no output fan-out, one boolean per code per batch)
      val dimSub = Seq("R", "N").toDF("flag")
      time("semi join: spark") {
        probe.join(broadcast(dimSub), probe("l_returnflag") === dimSub("flag"),
            "left_semi")
          .write.format("noop").mode("overwrite").save()
      }
      time("semi join: dictJoin") {
        org.apache.spark.sql.graft.store.DictJoin
          .dictJoin(spark, "sb_dj", "l_returnflag", dimSub, "flag", "left_semi")
          .write.format("noop").mode("overwrite").save()
      }
      time("anti join: spark") {
        probe.join(broadcast(dimSub), probe("l_returnflag") === dimSub("flag"),
            "left_anti")
          .write.format("noop").mode("overwrite").save()
      }
      time("anti join: dictJoin") {
        org.apache.spark.sql.graft.store.DictJoin
          .dictJoin(spark, "sb_dj", "l_returnflag", dimSub, "flag", "left_anti")
          .write.format("noop").mode("overwrite").save()
      }
      // join→group composition: Spark join-then-group vs dictJoin feeding
      // the group-by vs dictJoinAgg (agg reordered through the join, so
      // the dict-grouping pushdown sees the bare scan and the join runs
      // at per-group scale — codes survive end-to-end)
      val jgAggs = Seq(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      time("join+groupBy: spark") {
        probe.join(broadcast(dim), probe("l_returnflag") === dim("flag"))
          .groupBy("l_returnflag", "rank", "label")
          .agg(jgAggs.head, jgAggs.tail: _*)
          .write.format("noop").mode("overwrite").save()
      }
      time("join+groupBy: dictJoin") {
        org.apache.spark.sql.graft.store.DictJoin
          .dictJoin(spark, "sb_dj", "l_returnflag", dim, "flag")
          .groupBy("l_returnflag", "rank", "label")
          .agg(jgAggs.head, jgAggs.tail: _*)
          .write.format("noop").mode("overwrite").save()
      }
      for (push <- Seq(true, false); validate <- Seq(true, false)) {
        spark.conf.set("spark.sql.graft.aggPushdown", push.toString)
        try {
          time(s"join+groupBy: agg-first push=$push validate=$validate") {
            org.apache.spark.sql.graft.store.DictJoin
              .dictJoinAgg(spark, "sb_dj", "l_returnflag", dim, "flag", jgAggs,
                requireUniqueBuild = validate)
              .write.format("noop").mode("overwrite").save()
          }
        } finally spark.conf.unset("spark.sql.graft.aggPushdown")
      }
      // WIDE dimension: the shape where the agg-first reorder wins
      // structurally — join-then-group carries the dim's ride-along
      // columns through every fact row (wide group keys, wide shuffle),
      // agg-first joins them onto the per-group result instead
      val wideDim = Seq("R", "A", "N").zipWithIndex.map { case (f, i) =>
        f +: (1 to 20).map(j => s"attr_${i}_$j")
      }.map(r => (r.head, r.tail)).toDF("flag", "attrs")
        .select(col("flag") +: (1 to 20).map(j =>
          col("attrs")(j - 1).as(s"a$j")): _*)
      val wideCols = (1 to 20).map(j => s"a$j")
      time("join+groupBy wide dim: spark") {
        probe.join(broadcast(wideDim), probe("l_returnflag") === wideDim("flag"))
          .groupBy("l_returnflag", wideCols: _*)
          .agg(jgAggs.head, jgAggs.tail: _*)
          .write.format("noop").mode("overwrite").save()
      }
      time("join+groupBy wide dim: agg-first") {
        org.apache.spark.sql.graft.store.DictJoin
          .dictJoinAgg(spark, "sb_dj", "l_returnflag", wideDim, "flag", jgAggs,
            requireUniqueBuild = false)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // q1 aggregation variants
    val lif = li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    time("q1 double sums") {
      lif.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))),
          sum("l_discount"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    time("q1 decimal sums") {
      lif.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")),
          sum(col("l_extendedprice").cast("decimal(18,4)")),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).cast("decimal(18,6)")),
          sum(col("l_discount").cast("decimal(18,4)")), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    time("q1 long sums") {
      lif.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(round(col("l_quantity") * 1e4).cast("long")),
          sum(round(col("l_extendedprice") * 1e4).cast("long")),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 1e4).cast("long")),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")) * 1e6).cast("long")),
          sum(round(col("l_discount") * 1e4).cast("long")), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    // decompose q_aqp_with_error_sql
    graft.Tables.registerAll(spark, sfDir)
    g.createSampleTable("li_sample_d", li,
      qcs = Seq("l_returnflag", "l_linestatus"), fraction = 0.1,
      reservoirFloor = 30, rankKey = Seq("l_orderkey", "l_linenumber"))
    g.registerSample("lineitem", "li_sample_d")
    time("aqp WITH ERROR sql") {
      g.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus WITH ERROR 0.1""".stripMargin)
        .write.format("noop").mode("overwrite").save()
    }
    g.samples.remove("lineitem")
    time("sample table agg only") {
      g.table("li_sample_d").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1))).write.format("noop").mode("overwrite").save()
    }
    time("parquet scan-agg strings") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)), sum("l_quantity"))
        .write.format("noop").mode("overwrite").save()
    }
    time("parquet docs text-agg") {
      docs.select(sum(length(col("text"))), countDistinct(col("lang")))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
