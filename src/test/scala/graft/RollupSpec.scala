package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftStoreOps}

/** Row-buffer roll-up ([[GraftStoreOps.rollupSmallBatches]] + the opt-in
  * commit trigger `spark.sql.graft.rollupThreshold`): repeated small
  * appends accumulate per-bucket tails of tiny `isDelta` seals; the
  * roll-up merges exactly those refs executor-side and swaps them in one
  * atomic transition, folding their delete/update state into the merged
  * rows. Reads must touch ONLY the addressed seals (batch-id pushdown).
  */
class RollupSpec extends SparkTestBase {

  private val fmt = GraftStoreOps.FORMAT

  private def smallInsert(table: String, from: Int, n: Int): Unit =
    spark.range(from, from + n)
      .select(col("id").as("k"), (col("id") * 2).cast("long").as("v"))
      .write.format(fmt).option("table", table).mode("append").save()

  test("roll-up merges small seals per bucket, folds DML state, answers unchanged") {
    val g = GraftSession(spark)
    // one big insert seals FULL batches (the untouched majority a real
    // table has), then small appends accumulate the per-bucket tails
    spark.range(10000, 40000).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.format(fmt).option("table", "ru_t")
      .option("partition_by", "k").option("buckets", "4")
      .option("batch_size", "4096").mode("overwrite").save()
    (0 until 6).foreach(i => smallInsert("ru_t", i * 100, 100))
    val t = GraftColumnStore("ru_t")
    val before = t.snapshot.liveRefs
    val fullBatches = before.count(!_.isDelta)
    assert(fullBatches >= 4, s"want full batches too, got $before")
    assert(before.count(_.isDelta) >= 8, s"want many small seals, got $before")
    // delete + update state that the merge must fold in
    GraftStoreOps.delete(spark, "ru_t", col("k") % 10 === 0L)
    GraftStoreOps.update(spark, "ru_t", col("k") < 50L, Seq("v" -> lit(-1L)))
    val expected = GraftStoreOps.read(spark, "ru_t")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq

    val skippedBefore = GraftColumnStore.batchesSkipped.get()
    val merged = GraftStoreOps.rollupSmallBatches(spark, "ru_t", minBatches = 2)
    assert(merged >= 8, s"expected the small seals to merge, got $merged")
    val after = t.snapshot
    assert(after.liveRefs.size < before.size,
      s"refs must shrink: ${before.size} -> ${after.liveRefs.size}")
    // per bucket at most ONE merged tail remains below the threshold
    after.liveRefs.filter(_.isDelta).groupBy(_.bucketId).foreach { case (b, rs) =>
      assert(rs.size < 2, s"bucket $b still holds ${rs.size} small seals")
    }
    // the SWAPPED refs' delete/update payloads retired with them (the
    // untouched full batches legitimately keep theirs)
    val swapped = before.filter(_.isDelta).map(_.id).toSet
    assert(after.deletes.keySet.intersect(swapped).isEmpty)
    assert(after.updates.keySet.intersect(swapped).isEmpty)
    // batch-id pushdown pruned the read to the addressed seals: the
    // roll-up planning skipped (at least) every non-small ref once
    assert(GraftColumnStore.batchesSkipped.get() > skippedBefore,
      "roll-up read must prune by batch id, not scan the table")
    val got = GraftStoreOps.read(spark, "ru_t")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got == expected)
    // idempotent: nothing above the threshold remains
    assert(GraftStoreOps.rollupSmallBatches(spark, "ru_t", minBatches = 2) == 0)
    g.dropTable("ru_t")
  }

  test("swapRefs aborts when a DELETE/UPDATE commits on a still-live seal mid-merge") {
    val g = GraftSession(spark)
    spark.range(0, 0).select(col("id").as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "ru_race")
      .option("batch_size", "10000").mode("overwrite").save()
    (0 until 4).foreach(i => smallInsert("ru_race", i * 100, 100))
    val t = GraftColumnStore("ru_race")
    val snap = t.snapshot
    val ids = snap.liveRefs.filter(_.isDelta).map(_.id).toSet
    assert(ids.size >= 4)
    // the maintenance read pins THIS fingerprint...
    val expected = snap.mutationState(ids)
    // ...then a DELETE commits against one of the (still-live!) seals
    // while the merge job runs — liveness alone would not notice
    GraftStoreOps.delete(spark, "ru_race", col("k") === 7L)
    assert(t.snapshot.refs.map(_.id).toSet.intersect(ids) == ids,
      "precondition: the mutated seals must still be live")
    assert(!t.swapRefs(ids, expected, Vector.empty),
      "swap with a stale mutation fingerprint must abort")
    // same for an UPDATE delta
    val expected2 = t.snapshot.mutationState(ids)
    GraftStoreOps.update(spark, "ru_race", col("k") === 9L, Seq("v" -> lit(-1L)))
    assert(!t.swapRefs(ids, expected2, Vector.empty))
    // a FRESH maintenance pass folds the new state and succeeds
    val before = GraftStoreOps.read(spark, "ru_race")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(GraftStoreOps.rollupSmallBatches(spark, "ru_race", minBatches = 2) >= 4)
    val after = GraftStoreOps.read(spark, "ru_race")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(after == before)
    assert(!after.exists(_.head == 7L) && after.exists(r => r.head == 9L && r(1) == -1L))
    g.dropTable("ru_race")
  }

  test("batch_ids read declines aggregate pushdown (answers from the addressed seals only)") {
    val g = GraftSession(spark)
    spark.range(0, 0).select(col("id").as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "ru_aggpd")
      .option("batch_size", "10000").mode("overwrite").save()
    (0 until 3).foreach(i => smallInsert("ru_aggpd", i * 100, 100))
    val someRefs = GraftColumnStore("ru_aggpd").snapshot.liveRefs
      .filter(_.isDelta).sortBy(_.id).take(2)
    val addressed = someRefs.map(_.numRows.toLong).sum
    val total = GraftStoreOps.read(spark, "ru_aggpd").count()
    assert(addressed < total, "precondition: the address list must be a strict subset")
    val pushesBefore = GraftColumnStore.aggPushes.get()
    val n = spark.read.format(fmt).option("table", "ru_aggpd")
      .option("batch_ids", someRefs.map(_.id).mkString(",")).load()
      .agg(count(lit(1))).first().getLong(0)
    // GraftAggScan enumerates ALL live refs — if the push were accepted
    // this would read the whole table, not the two addressed seals
    assert(n == addressed, s"batch_ids-restricted aggregate must see $addressed rows, got $n")
    assert(GraftColumnStore.aggPushes.get() == pushesBefore,
      "a batch_ids read must not accept aggregate pushdown")
    g.dropTable("ru_aggpd")
  }

  test("streaming e2e: foreachBatch ingest under rollupThreshold keeps the layout bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.graft.rollupThreshold"
    val mem = MemoryStream[Long]
    spark.conf.set(key, "4")
    val q = mem.toDF().toDF("id")
      .select(col("id").as("k"), (col("id") * 3).as("v"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.format(fmt).option("table", "ru_stream")
          .option("batch_size", "5000").mode("append").save()
      }
      .start()
    try {
      // 20 micro-batches of 80 rows: without roll-up that is 20+ small
      // seals; the commit trigger must keep the tail under the threshold
      (0 until 20).foreach { i =>
        mem.addData(i * 80L until (i + 1) * 80L: _*)
        q.processAllAvailable()
      }
      val snap = org.apache.spark.sql.graft.store.GraftColumnStore("ru_stream").snapshot
      val tail = snap.liveRefs.count(_.isDelta)
      assert(tail <= 4, s"streaming tail must stay bounded, got ${snap.liveRefs}")
      assert(snap.rowCount == 1600L)
      val s = GraftStoreOps.read(spark, "ru_stream").agg(sum(col("v"))).first().getLong(0)
      assert(s == (0L until 1600L).map(_ * 3).sum)
    } finally {
      q.stop()
      spark.conf.unset(key)
      GraftSession(spark).dropTable("ru_stream")
    }
  }

  test("table-level rollup_threshold: bounds the tail with NO session conf, survives checkpoint/restore") {
    // the streaming-ingest opt-in shape (PERF_NOTES §23): policy rides
    // the TABLE, so bulk loads elsewhere in the session stay untaxed
    assert(spark.conf.getOption("spark.sql.graft.rollupThreshold").isEmpty)
    spark.range(0, 0).select(col("id").as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "ru_topt")
      .option("batch_size", "10000").option("rollup_threshold", "3")
      .mode("overwrite").save()
    (0 until 10).foreach(i => smallInsert("ru_topt", i * 50, 50))
    val tails = GraftColumnStore("ru_topt").snapshot.liveRefs
      .filter(_.isDelta).groupBy(_.bucketId).values
    assert(tails.forall(_.size <= 3),
      s"table option must bound the tail, got ${GraftColumnStore("ru_topt").snapshot.liveRefs}")
    assert(GraftStoreOps.read(spark, "ru_topt").count() == 500)
    // the policy is part of the table's checkpoint: a restored table
    // (fresh registry entry) keeps rolling its tail up
    val dir = tempDir("ru_ckpt").toString
    GraftStoreOps.checkpoint(spark, "ru_topt", dir)
    GraftColumnStore.drop("ru_topt")
    assert(GraftColumnStore.rollupThreshold("ru_topt") == 0)
    GraftStoreOps.restore(spark, "ru_topt", dir)
    assert(GraftColumnStore.rollupThreshold("ru_topt") == 3)
    (0 until 8).foreach(i => smallInsert("ru_topt", 500 + i * 50, 50))
    val tails2 = GraftColumnStore("ru_topt").snapshot.liveRefs
      .filter(_.isDelta).groupBy(_.bucketId).values
    assert(tails2.forall(_.size <= 3), "restored table must keep its roll-up policy")
    assert(GraftStoreOps.read(spark, "ru_topt").count() == 900)
    GraftSession(spark).dropTable("ru_topt")
  }

  test("commit-trigger: rollupThreshold bounds the small-seal tail across an ingest loop") {
    val key = "spark.sql.graft.rollupThreshold"
    spark.range(0, 0).select(col("id").as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "ru_auto")
      .option("batch_size", "10000").mode("overwrite").save()
    try {
      spark.conf.set(key, "3")
      (0 until 12).foreach(i => smallInsert("ru_auto", i * 50, 50))
      val snap = GraftColumnStore("ru_auto").snapshot
      val tails = snap.liveRefs.filter(_.isDelta).groupBy(_.bucketId).values
      assert(tails.forall(_.size <= 3),
        s"auto roll-up must bound the tail, got ${snap.liveRefs}")
      assert(GraftStoreOps.read(spark, "ru_auto").count() == 600)
      // sum survives every merge: ids 0..599 doubled
      val s = GraftStoreOps.read(spark, "ru_auto")
        .agg(sum(col("v"))).first().getLong(0)
      assert(s == (0L until 600L).map(_ * 2).sum)
    } finally {
      spark.conf.unset(key)
      GraftSession(spark).dropTable("ru_auto")
    }
  }
}
