package graft

import graft.streaming.CdcSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end Structured-Streaming checks: CDC upsert sink (exactly-once,
  * conflation, delete handling) and watermarked window aggregation.
  */
class StreamingSpec extends SparkTestBase {

  case class Cdc(k: Long, v: String, _eventType: Int, ord: Long)

  test("cdc sink end-to-end through a real streaming query") {
    val g = GraftSession(spark)
    import spark.implicits._
    g.createTable("s_cdc", Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      keyColumns = Seq("k"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Cdc]
    val sink = CdcSink(g, "s_cdc", Seq("k"), "ord", queryName = "q_e2e")
    val q = mem.toDF().writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => sink.apply(df, id))
      .outputMode("update").start()
    try {
      // batch 0: update k=1, insert k=3, then delete k=2
      mem.addData(
        Cdc(1L, "a2", CdcSink.Update, 1), Cdc(3L, "c", CdcSink.Insert, 2),
        Cdc(2L, "x", CdcSink.Update, 3), Cdc(2L, "x", CdcSink.Delete, 4))
      q.processAllAvailable()
      val got = g.table("s_cdc").orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == Seq((1L, "a2"), (3L, "c")))

      // batch 1: conflation — two updates to same key, later ord wins
      mem.addData(Cdc(3L, "c_old", CdcSink.Update, 10), Cdc(3L, "c_new", CdcSink.Update, 11))
      q.processAllAvailable()
      val v3 = g.table("s_cdc").filter($"k" === 3L).head().getString(1)
      assert(v3 == "c_new")
    } finally q.stop()
  }

  test("cdc sink is idempotent on duplicate batch replay") {
    val g = GraftSession(spark)
    import spark.implicits._
    g.createTable("s_dup", Seq((1L, 10.0)).toDF("k", "amt"), keyColumns = Seq("k"))
    val sink = CdcSink(g, "s_dup", Seq("k"), "ord", queryName = "q_dup")
    val batch = Seq((1L, 20.0, CdcSink.Update, 1L), (2L, 5.0, CdcSink.Insert, 2L))
      .toDF("k", "amt", "_eventType", "ord")
    sink.apply(batch, batchId = 0)
    val after1 = g.table("s_dup").orderBy("k").collect().map(_.getDouble(1)).toSeq
    sink.apply(batch, batchId = 0) // replay of the same batch
    val after2 = g.table("s_dup").orderBy("k").collect().map(_.getDouble(1)).toSeq
    assert(after1 == Seq(20.0, 5.0) && after2 == after1)
  }

  test("cdc sink stays exactly-once across a simulated restart") {
    val g = GraftSession(spark)
    import spark.implicits._
    g.createTable("s_restart", Seq((1L, "v1"), (2L, "v2")).toDF("k", "v"),
      keyColumns = Seq("k"))
    val sink = CdcSink(g, "s_restart", Seq("k"), "ord", queryName = "q_restart")
    // batch 0: DELETE k=1 then re-INSERT k=1 with a new value + insert k=3
    val batch0 = Seq(
      (1L, "dead", CdcSink.Delete, 1L), (1L, "reborn", CdcSink.Insert, 2L),
      (3L, "v3", CdcSink.Insert, 3L)).toDF("k", "v", "_eventType", "ord")
    sink.apply(batch0, batchId = 0)
    val after = g.table("s_restart").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == Seq((1L, "reborn"), (2L, "v2"), (3L, "v3")))

    // "restart": a brand-new sink instance (fresh process state) replays
    // the checkpointed last batch — the store-persisted watermark makes
    // it a no-op even though no in-memory state survived
    val sinkAfterRestart = CdcSink(g, "s_restart", Seq("k"), "ord", queryName = "q_restart")
    assert(CdcSink.lastCommitted(g, "q_restart", "s_restart").contains(0L),
      "batch watermark must be persisted in the store, not the process")
    sinkAfterRestart.apply(batch0, batchId = 0)
    val afterReplay = g.table("s_restart").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterReplay == after, "replayed batch after restart must be a no-op")

    // a genuinely new batch still applies
    sinkAfterRestart.apply(
      Seq((2L, "v2b", CdcSink.Update, 10L)).toDF("k", "v", "_eventType", "ord"),
      batchId = 1)
    val v2 = g.table("s_restart").filter($"k" === 2L).head().getString(1)
    assert(v2 == "v2b")
    g.dropTable("s_restart")
  }

  test("cdc sink retries transient failures and stays exactly-once") {
    val g = GraftSession(spark)
    import spark.implicits._
    g.createTable("s_retry", Seq((1L, 10.0)).toDF("k", "amt"), keyColumns = Seq("k"))
    val sink = CdcSink(g, "s_retry", Seq("k"), "ord", queryName = "q_retry",
      retryWaitMs = 1)
    // first two apply attempts die mid-batch; the third succeeds —
    // reference DefaultSnappySinkCallback's bounded retry loop
    var failures = 2
    CdcSink.failureInjector = () =>
      if (failures > 0) { failures -= 1; throw new RuntimeException("transient") }
    try {
      sink.apply(Seq((1L, 20.0, CdcSink.Update, 1L), (2L, 5.0, CdcSink.Insert, 2L))
        .toDF("k", "amt", "_eventType", "ord"), batchId = 0)
    } finally CdcSink.failureInjector = () => ()
    val got = g.table("s_retry").orderBy("k").collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(20.0, 5.0), "batch must land exactly once despite retries")
    assert(failures == 0, "injector must have fired twice")
    assert(CdcSink.lastCommitted(g, "q_retry", "s_retry").contains(0L))
    g.dropTable("s_retry")
  }

  test("cdc state lookup is a driver-local index probe, not a scan") {
    val g = GraftSession(spark)
    // record a few hundred (query, table) states, then probe one:
    // the probe must not launch a Spark job (tracked via a job listener)
    (1 to 200).foreach(i => CdcSink.record(g, s"q_$i", s"t_$i", i.toLong))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(CdcSink.lastCommitted(g, "q_137", "t_137").contains(137L))
      Thread.sleep(200) // let any (unexpected) job-start events drain
      assert(jobs == 0, "state lookup must be a store probe, not a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("custom state via mapGroupsWithState (running count per user)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val counted = mem.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (user, n)
      }
    val q = counted.toDF("user", "n").writeStream
      .outputMode(OutputMode.Update)
      .format("memory").queryName("state_out").start()
    try {
      mem.addData((1L, 1.0), (1L, 2.0), (2L, 3.0))
      q.processAllAvailable()
      mem.addData((1L, 4.0))
      q.processAllAvailable()
      // latest state per user across micro-batches
      val latest = spark.table("state_out").groupBy($"user")
        .agg(max($"n").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(latest == Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }

  test("streaming last-touch attribution matches the batch operator on in-order batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // (event_id, user_id, event_type, ts) — split into two in-order
    // micro-batches; the second batch's conversion must attribute to a
    // touch carried in STATE from the first batch
    val batch1 = Seq(
      (1L, 1L, "click", ts(10)), (2L, 1L, "view", ts(20)),
      (3L, 1L, "purchase", ts(25)),
      (4L, 2L, "click", ts(0)))
    val batch2 = Seq(
      (5L, 2L, "purchase", ts(100)), // touch too old for the 60s gap
      (6L, 3L, "purchase", ts(50)), // organic
      (7L, 1L, "purchase", ts(30))) // view@20 from batch 1's state
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val out = graft.streaming.StreamingAttribution.lastTouch(
      mem.toDS().toDF("event_id", "user_id", "event_type", "ts"),
      "user_id", "ts", "event_type", "event_id",
      touchTypes = Seq("click", "view"), convType = "purchase",
      maxGapUs = 60L * 1000 * 1000)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("attr_out").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(5)) -1L else r.getLong(5))).toSet
      val batch = graft.operators.Funnel.lastTouchAttribution(
          (batch1 ++ batch2).toDF("event_id", "user_id", "event_type", "ts"),
          "user_id", "ts", "event_type", "event_id",
          touchTypes = Seq("click", "view"), convType = "purchase",
          maxGapUs = 60L * 1000 * 1000)
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(5)) -1L else r.getLong(5))).toSet
      assert(streamed == batch)
      assert(streamed == Set((3L, 2L, 5000000L), (5L, -1L, -1L),
        (6L, -1L, -1L), (7L, 2L, 10000000L)))
    } finally q.stop()
  }

  test("CREATE STREAM TABLE registers a streaming source queryable by SQL") {
    import java.nio.file.Files
    val dir = tempDir("graft_stream").toFile
    Files.writeString(new java.io.File(dir, "a.json").toPath,
      """{"k": 1, "v": 10.0}
        |{"k": 2, "v": 20.0}""".stripMargin)
    Files.writeString(new java.io.File(dir, "b.json").toPath,
      """{"k": 1, "v": 5.0}""".stripMargin)
    spark.sql(s"CREATE STREAM TABLE s_files (k LONG, v DOUBLE) USING json " +
      s"OPTIONS (path '${dir.getAbsolutePath}', maxFilesPerTrigger '10')")
    val agg = spark.sql("SELECT k, sum(v) AS total FROM s_files GROUP BY k")
    assert(agg.isStreaming, "stream table must yield a streaming DataFrame")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("s_files_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("s_files_out").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == Map(1L -> 15.0, 2L -> 20.0))
    } finally {
      q.stop()
      spark.catalog.dropTempView("s_files")
    }
  }

  test("streaming first-seen dedup: later batches' duplicates drop, state survives") {
    import graft.streaming.StreamingDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF.toDF("id", "text")
    val deduped = StreamingDedup.firstSeen(src,
      graft.operators.Dedup.md5Hash60(col("text")))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    try {
      mem.addData((1L, "alpha doc"), (2L, "beta doc"))
      q.processAllAvailable()
      assert(spark.table("sdedup_out").count() == 2)
      // batch 2: one replay of "alpha doc" (different id), one new doc —
      // the replay must drop on the state from batch 1
      mem.addData((3L, "alpha doc"), (4L, "gamma doc"))
      q.processAllAvailable()
      val got = spark.table("sdedup_out").select("id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "alpha doc", 2L -> "beta doc", 4L -> "gamma doc"),
        s"first occurrence wins across batches: $got")
      // a second replay in a third batch still drops
      mem.addData((5L, "beta doc"))
      q.processAllAvailable()
      assert(spark.table("sdedup_out").count() == 3)
    } finally {
      q.stop()
    }
  }

  test("streaming NEAR-dup dedup: foreachBatch loop over the store signature registry") {
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val g = GraftSession(spark)
    val h1 = "a b c d e f g h i j"
    val u1 = "z x c v b n m k l p"
    // bootstrap the registry from one historical document
    val (hb, hs) = Dedup.minhashFrames(Seq((1L, h1)).toDF("doc_id", "text"),
      "doc_id", "text")
    g.createTable("snd_bands", hb, partitionBy = Seq("band_hash"), buckets = 4)
    g.createTable("snd_sigs", hs, partitionBy = Seq("sid"), buckets = 4)
    val found = scala.collection.mutable.Set.empty[(Long, Long)]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // the production loop shape: a per-batch CheckpointScope so the
        // operator's eager localCheckpoint blocks free at batch end
        // instead of accumulating until RDD GC
        val scope = new graft.operators.CheckpointScope
        val (pairs, newBands, newSigs) = Dedup.incrementalMinhash(
          df, "doc_id", "text", g.table("snd_bands"), g.table("snd_sigs"),
          scope = Some(scope))
        // materialize pairs BEFORE the registry append (the operator's
        // contract — the committed rows must not feed the same batch)
        val p = pairs.select("a", "b").as[(Long, Long)].collect()
        found.synchronized { found ++= p }
        g.insert("snd_bands", newBands)
        g.insert("snd_sigs", newSigs)
        assert(scope.trackedCount > 0)
        scope.release(blocking = true)
        ()
      }
      .start()
    try {
      // batch 1: a near-dup of the historical doc + an unrelated doc
      mem.addData((11L, h1 + " k"), (12L, u1))
      q.processAllAvailable()
      assert(found.toSet == Set((1L, 11L)), s"got $found")
      // batch 2: an exact copy of batch 1's unrelated doc — detectable
      // only if batch 1 entered the registry
      mem.addData((13L, u1))
      q.processAllAvailable()
      assert(found.toSet == Set((1L, 11L), (12L, 13L)), s"got $found")
    } finally {
      q.stop()
      g.dropTable("snd_bands")
      g.dropTable("snd_sigs")
    }
  }

  test("STREAMING INIT/START/STOP drives registered CQs end-to-end") {
    import java.nio.file.Files
    val dir = tempDir("graft_cq").toFile
    Files.writeString(new java.io.File(dir, "a.json").toPath,
      """{"k": 1, "v": 10.0}
        |{"k": 2, "v": 20.0}
        |{"k": 1, "v": 5.0}""".stripMargin)
    val g = GraftSession(spark)
    spark.sql(s"CREATE STREAM TABLE s_cq (k LONG, v DOUBLE) USING json " +
      s"OPTIONS (path '${dir.getAbsolutePath}')")
    g.registerCQ("cq_totals", "SELECT k, sum(v) AS total FROM s_cq GROUP BY k")
    spark.sql("STREAMING INIT 1 SECONDS")
    spark.sql("STREAMING START")
    try {
      val q = spark.streams.active.find(_.name == "cq_totals").get
      q.processAllAvailable()
      // CQ result lands in a view named after the CQ (registerAsTable analog)
      val got = spark.table("cq_totals").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == Map(1L -> 15.0, 2L -> 20.0))
    } finally {
      spark.sql("STREAMING STOP")
      spark.catalog.dropTempView("s_cq")
    }
    assert(!spark.streams.active.exists(_.name == "cq_totals"),
      "STREAMING STOP must stop the CQ")
  }

  test("watermarked stream-stream interval join (impressions ⋈ clicks)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val imp = MemoryStream[(Long, java.sql.Timestamp)]
    val clk = MemoryStream[(Long, java.sql.Timestamp)]
    val impDf = imp.toDF().toDF("ad_id", "imp_ts").withWatermark("imp_ts", "10 minutes")
    val clkDf = clk.toDF().toDF("ad_id_c", "clk_ts").withWatermark("clk_ts", "10 minutes")
    // click attributes to an impression of the same ad within 5 minutes —
    // both sides keep bounded state thanks to the watermark + time bound
    val joined = impDf.join(clkDf,
      expr("ad_id = ad_id_c AND clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 5 minutes"))
      .select($"ad_id", $"imp_ts", $"clk_ts")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib_out").start()
    try {
      imp.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:01:00")))
      clk.addData(
        (1L, ts("2024-01-01 10:03:00")),  // within 5 min → attributed
        (2L, ts("2024-01-01 10:09:00")),  // 8 min after → NOT attributed
        (3L, ts("2024-01-01 10:02:00"))) // no impression → dropped
      q.processAllAvailable()
      val got = spark.table("attrib_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(2))).toSet
      assert(got == Set((1L, ts("2024-01-01 10:03:00"))))
    } finally q.stop()
  }

  test("streaming first-seen dedup survives null fingerprints (one null-class representative passes)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val deduped = graft.streaming.StreamingDedup.firstSeen(
      mem.toDF().toDF("id", "text"),
      graft.operators.Dedup.md5Hash60(col("text")))
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("nullfp_out").start()
    try {
      mem.addData((1L, "aa"), (2L, null), (3L, null))
      q.processAllAvailable()
      val got = spark.table("nullfp_out").select("id").as[Long].collect().toSet
      // one representative of the null-fingerprint class passes; the
      // query does NOT die with an NPE reading the group key
      assert(got.contains(1L) && got.size == 2 && (got - 1L).subsetOf(Set(2L, 3L)),
        s"got $got")
      mem.addData((4L, null))
      q.processAllAvailable()
      assert(spark.table("nullfp_out").count() == 2, "later null content must dedup")
    } finally q.stop()
  }

  test("streaming curation funnel: rule filter + first-seen dedup across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // quality rules are stateless scan projections, so the same batch
    // operator composes onto a stream unchanged; dedup carries state
    val good = ("word " * 60).trim + " the of and that" // passes every rule
    val short = "too short"                          // fails word count
    val batch1 = Seq((1L, good), (2L, short), (3L, good + " unique3"))
    val batch2 = Seq((4L, good), (5L, good + " unique5"), (6L, short))
    val mem = MemoryStream[(Long, String)]
    val curated = graft.streaming.StreamingDedup.firstSeen(
      graft.operators.TextAnalysis.gopherRules(
          mem.toDS().toDF("doc_id", "text"), "doc_id", "text",
          carry = Seq("text"))
        .filter($"keep"),
      org.apache.spark.sql.graft.TextHashExpressions.md5_prefix_long($"text", 15))
    val q = curated.writeStream.outputMode("append").format("memory")
      .queryName("curate_out").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val kept = spark.table("curate_out").select("doc_id").as[Long].collect().toSet
      // 2/6 fail rules; 4 duplicates 1's content ACROSS batches -> dropped
      assert(kept == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("stream-fed windowed approx top-k (TopK structures over a stream) matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // (ts, key): two 10-minute windows with different top keys
    val rows = Seq(
      (ts("2024-01-01 10:01:00"), "a"), (ts("2024-01-01 10:02:00"), "a"),
      (ts("2024-01-01 10:03:00"), "b"), (ts("2024-01-01 10:04:00"), "a"),
      (ts("2024-01-01 10:12:00"), "c"), (ts("2024-01-01 10:13:00"), "c"),
      (ts("2024-01-01 10:14:00"), "b"))
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    // reference parity: approx TopK structures are STREAM-fed
    // (createApproxTSTopK over a stream table) — here the same CMS+heap
    // aggregate runs inside a watermarked streaming window
    val agg = mem.toDF().toDF("ts", "key")
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "10 minutes").as("w"))
      .agg(graft.functions.SketchFunctions.approx_topk($"key", 2).as("topk"))
      .select($"w.start".as("ws"), posexplode($"topk"))
      .select($"ws", (col("pos") + 1).as("rank"), $"col.key", $"col.count")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("topk_stream_out").start()
    try {
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(4): _*)
      q.processAllAvailable()
      // close both windows past the watermark
      mem.addData((ts("2024-01-01 10:30:00"), "z"))
      q.processAllAvailable()
      val streamed = spark.table("topk_stream_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getString(2), r.getLong(3)))
        .toSet
      val batch = rows.toDF("ts", "key")
        .groupBy(window($"ts", "10 minutes").as("w"))
        .agg(graft.functions.SketchFunctions.approx_topk($"key", 2).as("topk"))
        .select($"w.start".as("ws"), posexplode($"topk"))
        .select($"ws", (col("pos") + 1).as("rank"), $"col.key", $"col.count")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(streamed == batch)
      assert(streamed.exists { case (_, r, k, c) => r == 1 && k == "a" && c == 3 })
      assert(streamed.exists { case (_, r, k, c) => r == 1 && k == "c" && c == 2 })
    } finally q.stop()
  }

  test("watermark drops late data: an event older than the watermark never surfaces") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"))
      .agg(sum($"v").as("total"), count(lit(1)).as("n"))
      .select($"w.start".as("ws"), $"total", $"n")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_out").start()
    try {
      mem.addData((ts("2024-01-01 10:01:00"), 1.0), (ts("2024-01-01 10:02:00"), 2.0))
      q.processAllAvailable()
      // advance the watermark far past the 10:00 window...
      mem.addData((ts("2024-01-01 11:00:00"), 5.0))
      q.processAllAvailable()
      // ...then send a LATE row for the closed window: it must be dropped
      mem.addData((ts("2024-01-01 10:03:00"), 100.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:00:00"), 7.0)) // close the 11:00 window
      q.processAllAvailable()
      val got = spark.table("late_out").collect()
        .map(r => r.getTimestamp(0).toString -> (r.getDouble(1), r.getLong(2))).toMap
      assert(got("2024-01-01 10:00:00.0") == ((3.0, 2L)),
        s"late row leaked into the closed window: $got")
      assert(got("2024-01-01 11:00:00.0") == ((5.0, 1L)))
    } finally q.stop()
  }

  test("stream-static join sees the dimension table's latest snapshot per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val g = GraftSession(spark)
    g.createTable("stream_dims",
      Seq((1L, "bronze"), (2L, "silver")).toDF("user_id", "tier"),
      keyColumns = Seq("user_id"))
    val mem = MemoryStream[(Long, Double)]
    // the reference's canonical stream pattern: a stream enriched by a
    // MUTABLE dimension table — each micro-batch must re-resolve the
    // store snapshot, so dimension updates between batches are visible
    // to later batches (and only to them)
    val joined = mem.toDF().toDF("uid", "amount")
      .join(g.table("stream_dims"), $"uid" === $"user_id")
      .select($"uid", $"tier", $"amount")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    try {
      mem.addData((1L, 10.0))
      q.processAllAvailable()
      g.update("stream_dims", col("user_id") === 1L, "tier" -> lit("gold"))
      mem.addData((1L, 20.0))
      q.processAllAvailable()
      val got = spark.table("enrich_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == Set((1L, "bronze", 10.0), (1L, "gold", 20.0)), s"got $got")
    } finally { q.stop(); g.dropTable("stream_dims") }
  }

  test("watermarked tumbling-window aggregation over a stream matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(
        (ts("2024-01-01 10:05:00"), "a", 1.0), (ts("2024-01-01 10:55:00"), "a", 2.0),
        (ts("2024-01-01 11:05:00"), "a", 4.0), (ts("2024-01-01 10:30:00"), "b", 8.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(date_format($"window.start", "HH").as("h"), $"event_type", $"n", $"total")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(("10", "a", 2L, 3.0), ("11", "a", 1L, 4.0), ("10", "b", 1L, 8.0)))
    } finally q.stop()
  }

  test("session-window aggregation over a stream (gap-based sessionization)") {
    // the streaming counterpart of the batch sessionize operators
    // (Funnel.sessionize / q_events_session_hist): session_window merges
    // events within the gap, splits across it, per user
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"user")
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(
        // u1: two events 20 min apart -> ONE session; a third 40 min
        // later -> a second session
        (ts("2024-01-01 09:00:00"), "u1"), (ts("2024-01-01 09:20:00"), "u1"),
        (ts("2024-01-01 10:00:00"), "u1"),
        // u2: one event -> one singleton session
        (ts("2024-01-01 09:05:00"), "u2"))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select(date_format($"session_window.start", "HH:mm").as("s"),
          $"user", $"n_events")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(("09:00", "u1", 2L), ("10:00", "u1", 1L),
        ("09:05", "u2", 1L)))
    } finally q.stop()
  }

  test("stream ingest publishes incremental epochs; attachView serves the advancing stream") {
    // the full streaming→serving composition on one machine: each
    // micro-batch appends to the store table AND publishes an O(delta)
    // epoch; a reader re-points a zero-copy view at the newest epoch
    // between batches (the reference's stream-table + connector-read
    // story, re-expressed as foreachBatch → LiveCheckpoint → attachView)
    val g = GraftSession(spark)
    import spark.implicits._
    import org.apache.spark.sql.graft.store.LiveCheckpoint
    val root = tempDir("s_pub").toString
    g.sql("CREATE TABLE s_live (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4')")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        g.insert("s_live", df)
        LiveCheckpoint.publish(spark, "s_live", root, incremental = true)
        ()
      }
      .outputMode("append").start()
    try {
      mem.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      assert(g.attachView("s_view", root) == 0L)
      assert(g.table("s_view").count() == 2)
      mem.addData((3L, 30L), (4L, 40L), (5L, 50L))
      q.processAllAvailable()
      // the reader advances by re-pointing; epoch 1 reuses epoch 0's
      // untouched payloads (IncrementalPublishSpec pins the mechanics)
      assert(g.attachView("s_view", root) == 1L)
      assert(g.table("s_view").count() == 5)
      assert(g.table("s_view").agg(sum($"v")).head().getLong(0) == 150L)
    } finally q.stop()
    g.dropTable("s_view"); g.dropTable("s_live")
  }

  test("stream ingest maintains a matview O(delta); queries serve from the summary") {
    // continuous-rollup composition: each micro-batch appends to the
    // store table and REFRESHes the matview — every refresh after the
    // initial build must take the INCREMENTAL path (appends only), and
    // between batches the grouped query is served from the summary
    // (plan-asserted), always equal to a direct aggregate of the base
    val g = GraftSession(spark)
    import spark.implicits._
    import org.apache.spark.sql.graft.store.MatViews
    g.sql("CREATE TABLE s_mv_live (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4')")
    // matview over an EMPTY stream table: builds empty, fills as data lands
    g.sql("CREATE MATERIALIZED VIEW s_mv_sum AS " +
      "SELECT k, sum(v) AS sv, count(*) AS n FROM s_mv_live GROUP BY k")
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        g.insert("s_mv_live", df)
        paths += g.refreshMaterializedView("s_mv_sum")
        ()
      }
      .outputMode("append").start()
    try {
      def served(): Seq[(Long, Long, Long)] = {
        val f = spark.sql("SELECT k, sum(v) AS sv, count(*) AS n FROM s_mv_live GROUP BY k")
        assert(Plans.scansStoreTable(f, "s_mv_sum"),
          s"between batches the summary must serve; scanned ${Plans.scannedTables(f)}")
        f.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      }
      mem.addData((1L, 10L), (2L, 20L), (1L, 5L))
      q.processAllAvailable()
      assert(served() == Seq((1L, 15L, 2L), (2L, 20L, 1L)))
      mem.addData((2L, 1L), (3L, 30L))
      q.processAllAvailable()
      assert(served() == Seq((1L, 15L, 2L), (2L, 21L, 2L), (3L, 30L, 1L)))
      assert(paths.toSeq == Seq("incremental", "incremental"),
        s"streaming appends must ride the O(delta) path, got $paths")
      assert(MatViews.isFresh(MatViews.get("s_mv_sum").get))
    } finally q.stop()
    g.dropMaterializedView("s_mv_sum"); g.dropTable("s_mv_live")
  }
}
