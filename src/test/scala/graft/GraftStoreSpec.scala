package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftStoreOps}

/** The mutable-store substrate: update deltas, delete bitmaps, delta row
  * buffer + compaction, encodings, metadata-only commits.
  */
class GraftStoreSpec extends SparkTestBase {

  private def freshOrders(name: String, buckets: Int = 4): Unit = {
    val g = GraftSession(spark)
    g.createTable(name, Tables.load(spark, sf, "orders"),
      keyColumns = Seq("o_orderkey"), partitionBy = Seq("o_orderkey"), buckets = buckets)
  }

  test("unbucketed ingest repartitions up when a big source has few splits") {
    val g = GraftSession(spark)
    val oneSplit = Tables.load(spark, sf, "orders").coalesce(1)
    // below the size floor: keep the source's single partition (the
    // shuffle would cost more than the encode parallelism buys)
    g.createTable("s_ing_small", oneSplit)
    assert(GraftColumnStore("s_ing_small").snapshot.refs.map(_.bucketId).distinct.size <= 1 ||
      GraftColumnStore("s_ing_small").snapshot.refs.size >= 1)
    val smallTasks = GraftColumnStore("s_ing_small").snapshot.refs.size
    // floor lowered to 1 byte: the same single-split source must fan out
    // to the cluster's parallelism before encoding
    spark.conf.set(GraftSession.INGEST_MIN_BYTES_KEY, "1")
    try {
      g.createTable("s_ing_big", oneSplit)
      val bigTasks = GraftColumnStore("s_ing_big").snapshot.refs.size
      assert(bigTasks > smallTasks,
        s"expected fan-out above the floor: $bigTasks vs $smallTasks encode tasks")
      // data intact after the repartition
      assert(g.table("s_ing_big").count() == oneSplit.count())
    } finally {
      spark.conf.unset(GraftSession.INGEST_MIN_BYTES_KEY)
      g.dropTable("s_ing_small"); g.dropTable("s_ing_big")
    }
  }

  test("UPDATE writes column deltas, not a table rewrite") {
    val g = GraftSession(spark)
    freshOrders("s_upd")
    val before = GraftColumnStore("s_upd").snapshot
    val beforeIds = before.refs.map(_.id).toSet
    val expected = g.table("s_upd")
      .select(sum(when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
        .otherwise(col("o_totalprice"))).as("s")).head().getDouble(0)
    g.update("s_upd", col("o_orderkey") % 7 === 0,
      "o_totalprice" -> (col("o_totalprice") * 2))
    val after = GraftColumnStore("s_upd").snapshot
    assert(after.refs.map(_.id).toSet == beforeIds, "update must not rewrite batches")
    assert(after.updates.nonEmpty, "update must record column deltas")
    val got = g.table("s_upd").select(sum(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(got - expected) < 1e-6)
    // a second update composes on top of the first delta chain
    g.update("s_upd", col("o_orderkey") % 7 === 0,
      "o_totalprice" -> (col("o_totalprice") / 2))
    val restored = g.table("s_upd").select(sum(col("o_totalprice"))).head().getDouble(0)
    val original = Tables.load(spark, sf, "orders")
      .select(sum(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(restored - original) < 1e-6)
    g.dropTable("s_upd")
  }

  test("DELETE sets per-batch bitmaps; fully-dead batches drop") {
    val g = GraftSession(spark)
    freshOrders("s_del")
    val before = GraftColumnStore("s_del").snapshot
    val total = Tables.load(spark, sf, "orders").count()
    val toDie = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").count()
    g.delete("s_del", col("o_orderpriority") === "1-URGENT")
    val after = GraftColumnStore("s_del").snapshot
    assert(after.refs.map(_.id).toSet.subsetOf(before.refs.map(_.id).toSet))
    assert(after.deletes.nonEmpty, "delete must record bitmaps")
    assert(g.table("s_del").count() == total - toDie)
    assert(g.table("s_del").filter(col("o_orderpriority") === "1-URGENT").count() == 0)
    // delete everything → all refs die
    g.delete("s_del", lit(true))
    assert(g.table("s_del").count() == 0)
    assert(GraftColumnStore("s_del").snapshot.refs.isEmpty,
      "fully-deleted batches must be dropped from the snapshot")
    g.dropTable("s_del")
  }

  test("DELETE commits carry bitmap REFS; payloads live in the registry and union-merge") {
    val g = GraftSession(spark)
    freshOrders("s_dref")
    g.delete("s_dref", col("o_orderkey") % 10 === 0)
    val snap1 = GraftColumnStore("s_dref").snapshot
    assert(snap1.deletes.nonEmpty)
    val card1 = snap1.deletes.values.map(_.cardinality.toLong).sum
    // the snapshot holds refs whose payloads resolve from the registry —
    // the driver-side metadata is O(touched batches), not O(deleted rows)
    snap1.deletes.values.foreach { ref =>
      val words = GraftColumnStore.BatchRegistry.bitmapWords(ref.bitmapId)
      assert(java.lang.Long.bitCount(words.map(java.lang.Long.bitCount(_).toLong).sum) >= 0)
      assert(words.map(java.lang.Long.bitCount(_).toLong).sum == ref.cardinality,
        "ref cardinality must equal payload popcount")
    }
    val total = Tables.load(spark, sf, "orders").count()
    val dead1 = Tables.load(spark, sf, "orders").filter(col("o_orderkey") % 10 === 0).count()
    assert(card1 == dead1)
    assert(g.table("s_dref").count() == total - dead1)
    // a second overlapping delete union-merges payloads (not refs-only append)
    g.delete("s_dref", col("o_orderkey") % 5 === 0)
    val snap2 = GraftColumnStore("s_dref").snapshot
    val dead2 = Tables.load(spark, sf, "orders").filter(col("o_orderkey") % 5 === 0 ||
      col("o_orderkey") % 10 === 0).count()
    assert(snap2.deletes.values.map(_.cardinality.toLong).sum == dead2)
    assert(g.table("s_dref").count() == total - dead2)
    g.dropTable("s_dref")
  }

  test("DECIMAL columns: store-backed, scaled-long encoding, stats skip, mutation") {
    val g = GraftSession(spark)
    val dec = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"))
    g.createTable("s_dec", dec, keyColumns = Seq("l_orderkey", "l_linenumber"))
    assert(g.isStoreBacked("s_dec"), "decimal schema must not fall back to cached DF")
    val snap = GraftColumnStore("s_dec").snapshot
    val batch = GraftColumnStore.batches(snap.refs.head.id)
    assert(batch.columns(2).isInstanceOf[GraftColumnStore.DecimalColumn],
      s"price must use the scaled-long decimal encoding, got ${batch.columns(2).getClass}")
    // exact roundtrip: decimal sums are exact integers in cents
    val want = dec.agg(sum("price")).head().getDecimal(0)
    val got = g.table("s_dec").agg(sum("price")).head().getDecimal(0)
    assert(got.compareTo(want) == 0, s"$got != $want")

    // decimal batch stats skip: clustered ingest, mid-range filter
    Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice").cast("decimal(12,2)").as("price"))
      .orderBy("price")
      .write.format(GraftStoreOps.FORMAT).option("table", "s_dec_idx")
      .option("batch_size", "1024").mode("overwrite").save()
    val s0 = GraftColumnStore.batchesSkipped.get()
    val lo = new java.math.BigDecimal("30000.00")
    val hi = new java.math.BigDecimal("31000.00")
    val expected = dec.filter(col("price") >= lit(lo) && col("price") < lit(hi)).count()
    val n = GraftStoreOps.read(spark, "s_dec_idx")
      .filter(col("price") >= lit(lo) && col("price") < lit(hi)).count()
    assert(n == expected)
    assert(GraftColumnStore.batchesSkipped.get() > s0,
      "decimal min/max stats must prune clustered batches")
    GraftColumnStore.drop("s_dec_idx")

    // decimal update delta + delete with a decimal predicate
    val k = g.table("s_dec").select("l_orderkey", "l_linenumber").head()
    g.update("s_dec",
      col("l_orderkey") === k.getLong(0) && col("l_linenumber") === k.getInt(1),
      "price" -> lit(new java.math.BigDecimal("9999.99")).cast("decimal(12,2)"))
    val updated = g.table("s_dec")
      .filter(col("l_orderkey") === k.getLong(0) && col("l_linenumber") === k.getInt(1))
      .head().getDecimal(2)
    assert(updated.compareTo(new java.math.BigDecimal("9999.99")) == 0)
    val big = new java.math.BigDecimal("90000.00")
    val keep = g.table("s_dec").filter(col("price") <= lit(big)).count()
    g.delete("s_dec", col("price") > lit(big))
    assert(g.table("s_dec").count() == keep)
    g.dropTable("s_dec")
  }

  test("MAP/STRUCT/nested-array columns: store-backed roundtrip + mutation") {
    val g = GraftSession(spark)
    val src = Tables.load(spark, sf, "orders").limit(500).select(
      col("o_orderkey"),
      col("o_totalprice"),
      struct(col("o_custkey").as("ck"), col("o_orderstatus").as("st")).as("meta"),
      map(col("o_orderpriority"), col("o_totalprice")).as("prio_price"),
      array(struct(col("o_totalprice").as("p"),
        (col("o_totalprice") * 2).as("p2"))).as("price_rows"))
    g.createTable("s_complex", src)
    assert(g.isStoreBacked("s_complex"),
      "map/struct schema must land in the graftstore, not the cached-DF fallback")
    val got = g.table("s_complex").orderBy("o_orderkey").collect()
    val exp = src.orderBy("o_orderkey").collect()
    assert(got.toSeq == exp.toSeq, "complex columns must roundtrip exactly")

    // scalar pushdown/stats still work with complex columns in the schema
    val one = g.table("s_complex").filter(col("o_totalprice") > 100000.0)
    assert(one.count() == src.filter(col("o_totalprice") > 100000.0).count())

    // mutation: scalar update + delete compose while complex columns ride along
    GraftStoreOps.update(spark, "s_complex", col("o_totalprice") < 50000.0,
      Seq("o_totalprice" -> lit(0.0)))
    GraftStoreOps.delete(spark, "s_complex", col("o_totalprice") === 0.0)
    val after = g.table("s_complex")
    assert(after.count() == src.filter(col("o_totalprice") >= 50000.0).count())
    // struct/map fields extract correctly post-mutation
    val ck = after.select(col("meta.ck")).collect().map(_.getLong(0)).sorted.toSeq
    val ckExp = src.filter(col("o_totalprice") >= 50000.0)
      .select(col("meta.ck")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ck == ckExp)

    // update a MAP column (delta payload carries MapData)
    GraftStoreOps.update(spark, "s_complex", lit(true),
      Seq("prio_price" -> map_concat(col("prio_price"), map(lit("X"), lit(1.0)))))
    val allHaveX = g.table("s_complex")
      .filter(element_at(col("prio_price"), "X").isNotNull).count()
    assert(allHaveX == after.count(), "map update must reach every row")
    g.dropTable("s_complex")
  }

  test("PUT INTO upserts via bitmap-delete + append") {
    val g = GraftSession(spark)
    freshOrders("s_put")
    val orders = Tables.load(spark, sf, "orders")
    val src = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("UPSERTED"))
      .unionByName(orders.filter(col("o_orderkey") % 10 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 5000000L)
        .withColumn("o_orderstatus", lit("FRESH")))
    g.putInto("s_put", src)
    val t = g.table("s_put")
    val nMatched = orders.filter(col("o_orderkey") % 10 === 0).count()
    val nNew = orders.filter(col("o_orderkey") % 10 === 1).count()
    assert(t.count() == orders.count() + nNew)
    assert(t.filter(col("o_orderstatus") === "UPSERTED").count() == nMatched)
    assert(t.filter(col("o_orderstatus") === "FRESH").count() == nNew)
    // keys unique after upsert
    assert(t.groupBy("o_orderkey").count().filter(col("count") > 1).count() == 0)
    g.dropTable("s_put")
  }

  test("putInto sourceKeyUnique: debug assertion catches a broken caller promise") {
    val g = GraftSession(spark)
    freshOrders("s_puk")
    val dup = Tables.load(spark, sf, "orders").filter(col("o_orderkey") % 50 === 0)
    val broken = dup.unionByName(dup) // deliberately duplicate-keyed
    // off by default: the promise is NOT checked (the whole point of the
    // flag is skipping the dedup aggregate), so no error surfaces here —
    // use a throwaway frame compatible with the upsert to prove no throw
    GraftStoreOps.putInto(spark, "s_puk", dup, sourceKeyUnique = true)
    spark.conf.set("spark.sql.graft.putInto.verifySourceKeyUnique", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        GraftStoreOps.putInto(spark, "s_puk", broken, sourceKeyUnique = true)
      }
      assert(e.getMessage.contains("sourceKeyUnique"))
      // a key-unique source passes the assertion
      GraftStoreOps.putInto(spark, "s_puk", dup, sourceKeyUnique = true)
    } finally spark.conf.unset("spark.sql.graft.putInto.verifySourceKeyUnique")
    g.dropTable("s_puk")
  }

  test("putIntoAddressed: caller-threaded matched frame upserts like putInto") {
    val g = GraftSession(spark)
    freshOrders("s_pia")
    val orders = Tables.load(spark, sf, "orders")
    val src = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("UPSERTED"))
      .unionByName(orders.filter(col("o_orderkey") % 10 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 5000000L)
        .withColumn("o_orderstatus", lit("FRESH")))
      .localCheckpoint(true)
    // the refresh-merge calling convention: addressed read ⋉ source keys
    val matched = GraftStoreOps.readAddressed(spark, "s_pia")
      .join(src.select(col("o_orderkey")), Seq("o_orderkey"), "left_semi")
      .localCheckpoint(false)
    GraftStoreOps.putIntoAddressed(spark, "s_pia", src, matched)
    val t = g.table("s_pia")
    val nMatched = orders.filter(col("o_orderkey") % 10 === 0).count()
    val nNew = orders.filter(col("o_orderkey") % 10 === 1).count()
    assert(t.count() == orders.count() + nNew)
    assert(t.filter(col("o_orderstatus") === "UPSERTED").count() == nMatched)
    assert(t.filter(col("o_orderstatus") === "FRESH").count() == nNew)
    assert(t.groupBy("o_orderkey").count().filter(col("count") > 1).count() == 0)
    g.dropTable("s_pia")
  }

  test("putIntoAddressed: debug assertion rejects a mis-joined or partial matched frame") {
    val g = GraftSession(spark)
    freshOrders("s_pim")
    val orders = Tables.load(spark, sf, "orders")
    val src = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("UPSERTED"))
      .localCheckpoint(true)
    val addressed = GraftStoreOps.readAddressed(spark, "s_pim")
    val right = addressed.join(src.select(col("o_orderkey")), Seq("o_orderkey"), "left_semi")
      .localCheckpoint(true)
    // semi-joined on the wrong key: extra rows (and misses) vs table ⋉ source
    val misJoined = addressed.join(src.select(col("o_custkey")), Seq("o_custkey"), "left_semi")
      .localCheckpoint(true)
    val partial = right.filter(col("o_orderkey") % 20 === 0)
    val before = g.table("s_pim").count()
    withConf("spark.sql.graft.putInto.verifySourceKeyUnique" -> "true") {
      for (bad <- Seq(misJoined, partial)) {
        val e = intercept[IllegalArgumentException] {
          GraftStoreOps.putIntoAddressed(spark, "s_pim", src, bad)
        }
        assert(e.getMessage.contains("matched frame"), e.getMessage)
        assert(g.table("s_pim").count() == before, "a rejected upsert must not commit")
      }
      // the frame that honours the contract passes the assertion
      GraftStoreOps.putIntoAddressed(spark, "s_pim", src, right)
    }
    val t = g.table("s_pim")
    assert(t.count() == before)
    assert(t.filter(col("o_orderstatus") === "UPSERTED").count() == src.count())
    assert(t.groupBy("o_orderkey").count().filter(col("count") > 1).count() == 0)
    g.dropTable("s_pim")
  }

  test("delta row buffer: small appends stay delta until compaction") {
    val g = GraftSession(spark)
    freshOrders("s_buf", buckets = 2)
    val small = Tables.load(spark, sf, "orders").limit(10)
    g.insert("s_buf", small)
    val snap = GraftColumnStore("s_buf").snapshot
    assert(snap.refs.exists(_.isDelta), "sub-batch-size appends must be delta batches")
    val before = g.table("s_buf").count()
    GraftStoreOps.compact(spark, "s_buf")
    val after = GraftColumnStore("s_buf").snapshot
    assert(g.table("s_buf").count() == before, "compaction must preserve rows")
    assert(after.deletes.isEmpty && after.updates.isEmpty,
      "compaction folds merge state into sealed batches")
    g.dropTable("s_buf")
  }

  test("encodings: dict/RLE beat plain on low-cardinality data, roundtrip exact") {
    import org.apache.spark.unsafe.types.UTF8String
    val lowCard: Array[Any] =
      Array.tabulate(4096)(i => UTF8String.fromString(s"val_${i % 5}"))
    val enc = GraftColumnStore.encode(lowCard)
    val plain = GraftColumnStore.PlainColumn(lowCard)
    assert(!enc.isInstanceOf[GraftColumnStore.PlainColumn],
      "5-value column must not stay plain")
    assert(enc.sizeBytes < plain.sizeBytes / 2,
      s"encoded=${enc.sizeBytes} plain=${plain.sizeBytes}")
    assert(enc.toArray.toSeq == lowCard.toSeq)

    val runs: Array[Any] = Array.tabulate(4096)(i => java.lang.Long.valueOf(i / 512L))
    val encRuns = GraftColumnStore.encode(runs)
    assert(encRuns.isInstanceOf[GraftColumnStore.RunLengthColumn])
    assert(encRuns.toArray.toSeq == runs.toSeq)
    assert(encRuns.sizeBytes < GraftColumnStore.PlainColumn(runs).sizeBytes / 10)

    // store roundtrip with encoded columns stays exact
    val g = GraftSession(spark)
    freshOrders("s_enc")
    val got = g.table("s_enc").groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.load(spark, sf, "orders").groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    g.dropTable("s_enc")
  }

  test("string value-digest prunes equality misses inside [min,max] (dictionary-membership analog)") {
    import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftStoreOps}
    import spark.implicits._
    // every batch spans ["aaa","zzz"] in min/max (sentinels planted at
    // both ends), so range stats can NEVER prune an equality literal —
    // only the per-batch value digest can prove 'absent' is not there.
    // Cardinality stays LOW per batch (8 distinct + sentinels): that is
    // the dictionary-encodable regime the digest exists for — hundreds
    // of distinct values would saturate the 64-bit bloom (by design)
    val rows = (0 until 4).flatMap { b =>
      Seq((b * 1000L, "aaa"), (b * 1000L + 1, "zzz")) ++
        (2 until 500).map(i => (b * 1000L + i, s"val_${b}_${i % 8}"))
    }
    rows.toDF("id", "s")
      .coalesce(1).sortWithinPartitions("id")
      .write.format(GraftStoreOps.FORMAT).option("table", "s_bloom")
      .option("batch_size", "500").mode("overwrite").save()
    try {
      val skipped0 = GraftColumnStore.batchesSkipped.get()
      // present value: exactly its own batch survives, others digest-prune
      assert(GraftStoreOps.read(spark, "s_bloom")
        .filter($"s" === "val_2_4").count() > 0)
      val skippedPresent = GraftColumnStore.batchesSkipped.get() - skipped0
      assert(skippedPresent >= 3,
        s"digest must prune the 3 batches not holding the value, got $skippedPresent")
      // absent value inside every batch's [min,max]: all batches prune
      val s1 = GraftColumnStore.batchesSkipped.get()
      assert(GraftStoreOps.read(spark, "s_bloom")
        .filter($"s" === "bbb_absent").count() == 0)
      assert(GraftColumnStore.batchesSkipped.get() - s1 >= 4,
        "digest must prune every batch for an absent in-range literal")
    } finally GraftColumnStore.drop("s_bloom")
  }

  test("key point lookup prunes to one bucket (PK-lookup analog)") {
    val g = GraftSession(spark)
    freshOrders("s_pk", buckets = 8)
    val skippedBefore = GraftColumnStore.bucketsPruned.get()
    val hit = GraftStoreOps.read(spark, "s_pk")
      .filter(col("o_orderkey") === 100L).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("o_orderkey") == 100L)
    // planInputPartitions may run more than once per query (planning +
    // execution) — assert per-invocation pruning of exactly 7 of 8
    val pruned = GraftColumnStore.bucketsPruned.get() - skippedBefore
    assert(pruned > 0 && pruned % 7 == 0,
      s"point lookup must scan exactly 1 of 8 buckets per planning, pruned=$pruned")
    // IN-list prunes to at most |values| buckets
    val before2 = GraftColumnStore.bucketsPruned.get()
    val three = GraftStoreOps.read(spark, "s_pk")
      .filter(col("o_orderkey").isin(100L, 200L, 300L)).collect()
    assert(three.length == 3)
    assert(GraftColumnStore.bucketsPruned.get() - before2 >= 5)
    // non-key predicates scan all buckets, results stay exact
    val all = GraftStoreOps.read(spark, "s_pk")
      .filter(col("o_orderpriority") === "1-URGENT").count()
    val want = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(all == want)
    g.dropTable("s_pk")
  }

  test("runtime (DPP) filters prune buckets like pushed filters") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.graft.store.GraftScanBuilder
    import org.apache.spark.sql.sources.EqualTo
    val g = GraftSession(spark)
    freshOrders("s_dpp", buckets = 8)
    val schema = GraftColumnStore("s_dpp").schema
    val scan = new GraftScanBuilder("s_dpp", schema).build()
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.fieldNames.head).contains("o_orderkey"))
    val before = scan.toBatch.planInputPartitions().length
    assert(before == 8, "all buckets before the runtime filter arrives")
    rf.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("o_orderkey", 100L)))
    val after = scan.toBatch.planInputPartitions().length
    assert(after == 1, s"runtime key filter must prune to one bucket, got $after")
    g.dropTable("s_dpp")
  }

  test("CREATE INDEX re-clusters batches so stats skipping becomes the probe") {
    // shuffle orders into random batch order (o_totalprice spread wide in
    // every batch → stats can't skip); small batches so there is a real
    // batch population at test scale
    Tables.load(spark, sf, "orders").orderBy(xxhash64(col("o_orderkey")))
      .write.format(GraftStoreOps.FORMAT).option("table", "s_idx")
      .option("batch_size", "128").mode("overwrite").save()
    def scanCounts(f: => Unit): (Long, Long) = {
      val s0 = GraftColumnStore.batchesScanned.get()
      val k0 = GraftColumnStore.batchesSkipped.get()
      f
      (GraftColumnStore.batchesScanned.get() - s0,
        GraftColumnStore.batchesSkipped.get() - k0)
    }
    // a mid-distribution range: every random 128-row batch straddles it
    // (min << 50k << max), so unsorted stats cannot skip
    val range = col("o_totalprice").between(50000.0, 60000.0)
    val expected = Tables.load(spark, sf, "orders").filter(range).count()
    val (scanBefore, _) = scanCounts {
      assert(GraftStoreOps.read(spark, "s_idx").filter(range).count() == expected)
    }
    GraftStoreOps.createIndex(spark, "s_idx", Seq("o_totalprice"), batchSize = 128)
    assert(GraftColumnStore("s_idx").snapshot.sortedBy == Seq("o_totalprice"))
    val (scanAfter, skippedAfter) = scanCounts {
      assert(GraftStoreOps.read(spark, "s_idx").filter(range).count() == expected)
    }
    assert(scanAfter < scanBefore / 2 && skippedAfter > 0,
      s"index must shrink the scanned-batch set: before=$scanBefore after=$scanAfter skipped=$skippedAfter")

    // compaction keeps the clustering: deltas roll up, sortedBy and the
    // stats-skipping power survive
    GraftStoreOps.update(spark, "s_idx", col("o_totalprice") < 1000.0,
      Seq("o_orderpriority" -> lit("X-COMPACTED")))
    GraftStoreOps.compact(spark, "s_idx")
    assert(GraftColumnStore("s_idx").snapshot.sortedBy == Seq("o_totalprice"),
      "compact must preserve index clustering metadata")
    val (scanCompacted, skippedCompacted) = scanCounts {
      assert(GraftStoreOps.read(spark, "s_idx").filter(range).count() == expected)
    }
    assert(skippedCompacted > 0 && scanCompacted < scanBefore / 2,
      s"clustering must survive compaction: scanned=$scanCompacted skipped=$skippedCompacted")

    // SQL surface round-trip on a session-managed table
    val g = GraftSession(spark)
    g.createTable("s_idx_sql", Tables.load(spark, sf, "orders"))
    spark.sql("CREATE INDEX idx_price ON s_idx_sql (o_totalprice)")
    assert(GraftColumnStore("s_idx_sql").snapshot.sortedBy == Seq("o_totalprice"))
    spark.sql("DROP INDEX idx_price ON s_idx_sql")
    assert(GraftColumnStore("s_idx_sql").snapshot.sortedBy.isEmpty)
    g.dropTable("s_idx_sql")
    GraftColumnStore.drop("s_idx")
  }

  test("snapshot isolation: planned readers keep their snapshot; concurrent updates serialize") {
    val g = GraftSession(spark)
    freshOrders("s_snap")
    val total = Tables.load(spark, sf, "orders").count()
    // physically plan a reader BEFORE any mutation: its scan captured
    // the then-current snapshot. (A fresh action like count() replans
    // and sees the new snapshot — the contract is per planned query.)
    val planned = GraftStoreOps.read(spark, "s_snap").queryExecution.executedPlan
    GraftStoreOps.delete(spark, "s_snap", lit(true)) // delete EVERYTHING
    assert(GraftStoreOps.read(spark, "s_snap").count() == 0, "new readers see the delete")
    assert(planned.executeCollect().length == total,
      "a reader planned before the delete must keep its captured snapshot")

    // concurrent writers: disjoint updates from many threads — mutate()
    // swaps are synchronized, so all land, none lost
    freshOrders("s_conc")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val updates = (0 until 8).map { k =>
      Future(GraftStoreOps.update(spark, "s_conc",
        col("o_orderkey") % 8 === k,
        Seq("o_orderpriority" -> concat(lit(s"P$k-"), col("o_orderpriority")))))
    }
    Await.result(Future.sequence(updates), 120.seconds)
    val marked = GraftStoreOps.read(spark, "s_conc")
      .filter(col("o_orderpriority").startsWith("P")).count()
    assert(marked == total, s"all concurrent updates must land: $marked of $total")
    // each row carries exactly ITS residue's marker
    val wrong = GraftStoreOps.read(spark, "s_conc")
      .filter(!col("o_orderpriority").startsWith(concat(lit("P"), col("o_orderkey") % 8, lit("-"))))
      .count()
    assert(wrong == 0, s"updates must not cross predicates: $wrong rows")
    g.dropTable("s_snap"); g.dropTable("s_conc")
  }

  test("scans racing a fast writer: atomic states only, no missing payloads") {
    // The ADVICE-flagged scenario: a CdcSink-speed writer committing
    // back-to-back upserts while readers keep planning fresh scans.
    // Every scan must observe an ATOMIC state — for the single-swap
    // UPDATE path exactly one round's tag across the touched keys; for
    // the two-swap PUT INTO path (bitmap-delete swap + append swap) at
    // most one tag with the keys allowed to be momentarily absent — and
    // no scan may ever resolve a released payload ("payload missing"),
    // which is precisely what reader leases guarantee under rapid
    // retirement.
    val g = GraftSession(spark)
    freshOrders("s_race")
    val base = Tables.load(spark, sf, "orders").count()
    val touched = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") < 200).count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writer = Future {
      (1 to 6).foreach { i =>
        GraftStoreOps.update(spark, "s_race", col("o_orderkey") < 200,
          Seq("o_orderpriority" -> lit(s"U$i")))
      }
      (1 to 6).foreach { i =>
        val src = Tables.load(spark, sf, "orders")
          .filter(col("o_orderkey") < 200)
          .withColumn("o_orderpriority", lit(s"P$i"))
        GraftStoreOps.putInto(spark, "s_race", src)
      }
    }
    var scans = 0
    while (!writer.isCompleted) {
      val df = GraftStoreOps.read(spark, "s_race")
      // one planned query = one snapshot: tags must be uniform
      val tags = df.filter(col("o_orderkey") < 200)
        .select("o_orderpriority").distinct().collect()
        .map(_.getString(0)).filter(t => t.startsWith("U") || t.startsWith("P"))
      assert(tags.length <= 1, s"mixed mutation rounds in one snapshot: ${tags.toSeq}")
      val n = df.count()
      assert(n == base || n == base - touched,
        s"scan count $n is not an atomic state (base=$base touched=$touched)")
      scans += 1
    }
    Await.result(writer, 180.seconds)
    assert(scans > 0, "the reader loop must have raced the writer at least once")
    val finalTags = GraftStoreOps.read(spark, "s_race")
      .filter(col("o_orderkey") < 200)
      .select("o_orderpriority").distinct().collect().map(_.getString(0)).toSeq
    assert(finalTags == Seq("P6"), s"final state must be the last round: $finalTags")
    g.dropTable("s_race")
  }

  test("metadata columns are hidden from star but selectable") {
    val g = GraftSession(spark)
    freshOrders("s_meta")
    val df = GraftStoreOps.read(spark, "s_meta")
    assert(!df.columns.contains("_graft_batch_id"))
    val withMeta = df.select(df.metadataColumn("_graft_batch_id").as("bid"),
      df.metadataColumn("_graft_row_idx").as("rid"), col("o_orderkey"))
    val n = withMeta.count()
    assert(n == Tables.load(spark, sf, "orders").count())
    // physical addresses are unique
    assert(withMeta.select("bid", "rid").distinct().count() == n)
    g.dropTable("s_meta")
  }

  test("reader leases: an open scan survives multiple retiring mutations") {
    val g = GraftSession(spark)
    freshOrders("s_gc")
    val total = Tables.load(spark, sf, "orders").count()
    // open a scan and start draining it — the lease pins the snapshot's
    // payloads while the scan is reachable. Drain inside a def so the
    // iterator/plan reference dies with the frame (reachability is what
    // releases the lease).
    def drainAcrossCompactions(): Long = {
      val it = GraftStoreOps.read(spark, "s_gc").toLocalIterator()
      var n = 0L
      while (n < 10 && it.hasNext) { it.next(); n += 1 }
      // two compactions: EACH retires the entire previous batch set.
      // Under round-4 epoch-lag GC the second released the first's
      // retirees while this scan was still draining → "batch payload
      // missing".
      GraftStoreOps.compact(spark, "s_gc")
      GraftStoreOps.compact(spark, "s_gc")
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    val n = drainAcrossCompactions()
    assert(n == total, s"open scan must drain its pinned snapshot: $n of $total rows")
    // lease release is reachability-driven (a plan is multi-execution,
    // so reader-close counting would be unsound): once nothing holds the
    // scan, GC drops the lease and the retirees drain
    val deadline = System.currentTimeMillis() + 20000
    var state = GraftColumnStore("s_gc").gcStats
    while ((state._1 > 0 || state._2 > 0) && System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(100)
      state = GraftColumnStore("s_gc").gcStats
    }
    assert(state == ((0, 0)), s"expected drained GC state, got $state")
    g.dropTable("s_gc")
  }

  test("reader leases: a cached plan re-executes correctly across mutations") {
    val g = GraftSession(spark)
    freshOrders("s_gc3")
    val total = Tables.load(spark, sf, "orders").count()
    // hold ONE DataFrame and execute it, fully draining all its readers
    val df = GraftStoreOps.read(spark, "s_gc3")
    assert(df.count() == total)
    // two retiring mutations AFTER the first execution completed — under
    // close-counting GC the drained lease was dropped here and the
    // compactions freed the old payloads the cached plan still addresses
    GraftStoreOps.compact(spark, "s_gc3")
    GraftStoreOps.compact(spark, "s_gc3")
    // re-executing the SAME Dataset (cached physical plan, cached
    // partitions) must still resolve its pinned snapshot's payloads
    assert(df.count() == total, "cached plan re-execution hit released payloads")
    g.dropTable("s_gc3")
  }

  test("reader leases: a planned-but-never-executed scan cannot pin retirees forever") {
    val g = GraftSession(spark)
    freshOrders("s_gc2")
    // physical planning pins (and seals) a lease, but the plan never
    // runs — in a separate frame so the plan is unreachable afterwards
    def planOnce(): Unit = {
      GraftStoreOps.read(spark, "s_gc2").queryExecution.executedPlan
      ()
    }
    planOnce()
    // repeated compaction retires a full batch set per swap; the
    // abandoned lease would pin every one of them
    (0 until 10).foreach(_ => GraftStoreOps.compact(spark, "s_gc2"))
    // once the abandoned plan is collected, the Cleaner force-drops its
    // lease and the pending retirees drain
    val deadline = System.currentTimeMillis() + 20000
    var pend = GraftColumnStore("s_gc2").gcStats._2
    while (pend > 0 && System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(100)
      pend = GraftColumnStore("s_gc2").gcStats._2
    }
    assert(pend == 0,
      s"abandoned planning lease must stop blocking GC, $pend retiree sets pending")
    assert(GraftStoreOps.read(spark, "s_gc2").count() == Tables.load(spark, sf, "orders").count())
    g.dropTable("s_gc2")
  }

  test("reader leases: row-store scan survives retiring upserts (CDC-shaped)") {
    val g = GraftSession(spark)
    val cust = Tables.load(spark, sf, "customer")
    g.createTable("r_gc", cust, keyColumns = Seq("c_custkey"),
      partitionBy = Seq("c_custkey"), buckets = 4, provider = "row")
    val total = cust.count()
    val it = g.table("r_gc").toLocalIterator()
    var n = 0L
    while (n < 5 && it.hasNext) { it.next(); n += 1 }
    // repeated full-overlap upserts: each PUT tombstones every pack it
    // supersedes — fully-dead packs RETIRE each swap (the advisor's
    // fast-CDC-writer vs slow-scan race)
    (0 until 3).foreach { _ =>
      org.apache.spark.sql.graft.store.GraftRowOps.put(spark, "r_gc", cust)
    }
    while (it.hasNext) { it.next(); n += 1 }
    assert(n == total, s"open row scan must drain its pinned snapshot: $n of $total")
    g.dropTable("r_gc")
  }

  test("COMPRESSION 'lz4': smaller at-rest footprint, identical answers, mutation intact") {
    val g = GraftSession(spark)
    val docs = Tables.load(spark, sf, "documents")
    g.createTable("s_lz4", docs, compression = "lz4")
    g.createTable("s_raw", docs)
    val zipped = GraftColumnStore("s_lz4").snapshot
    val plain = GraftColumnStore("s_raw").snapshot
    assert(zipped.compression == "lz4" && plain.compression == "none")
    // text-heavy batches must actually deflate (strings carry the bulk)
    assert(zipped.sizeBytes < plain.sizeBytes,
      s"lz4 snapshot ${zipped.sizeBytes}B must undercut plain ${plain.sizeBytes}B")
    val some = zipped.refs.flatMap(r =>
      GraftColumnStore.batches(r.id).columns.collect {
        case c: GraftColumnStore.CompressedColumn => c
      })
    assert(some.nonEmpty, "at least one sealed column should be CompressedColumn")
    // identical answers through the columnar scan (string + numeric paths)
    val q = (t: String) => g.table(t)
      .groupBy("lang").agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
      .orderBy("lang").collect().toSeq
    assert(q("s_lz4") == q("s_raw"))
    // mutations run against compressed batches: deltas/bitmaps compose
    g.update("s_lz4", col("doc_id") % 5 === 0, "lang" -> lit("xx"))
    g.delete("s_lz4", col("doc_id") % 7 === 0)
    val expect = docs.withColumn("lang",
        when(col("doc_id") % 5 === 0, lit("xx")).otherwise(col("lang")))
      .filter(col("doc_id") % 7 =!= 0)
      .groupBy("lang").count().orderBy("lang").collect().toSeq
    val got = g.table("s_lz4").groupBy("lang").count().orderBy("lang").collect().toSeq
    assert(got == expect)
    // compact keeps the codec (layout metadata, like batch size)
    GraftStoreOps.compact(spark, "s_lz4")
    val after = GraftColumnStore("s_lz4").snapshot
    assert(after.compression == "lz4")
    assert(after.refs.flatMap(r =>
      GraftColumnStore.batches(r.id).columns.collect {
        case c: GraftColumnStore.CompressedColumn => c
      }).nonEmpty, "compaction must re-deflate sealed columns")
    assert(g.table("s_lz4").groupBy("lang").count().orderBy("lang").collect().toSeq == expect)
    g.dropTable("s_lz4"); g.dropTable("s_raw")
  }

  test("EVICTION_BY LRUMEMSIZE + OVERFLOW: past-budget batches spill to disk, answers exact") {
    val g = GraftSession(spark)
    val li = Tables.load(spark, sf, "lineitem")
    val expectCount = li.count()
    val expectAgg = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("q")).orderBy("l_returnflag").collect().toSeq
    g.createTable("s_evict", li, evictionBudgetBytes = 50000L)
    val snap = GraftColumnStore("s_evict").snapshot
    assert(snap.evictionBudget == 50000L)
    assert(snap.residentBytes <= 50000L,
      s"resident ${snap.residentBytes}B must fit the 50000B budget")
    assert(snap.refs.exists(r => !GraftColumnStore.batches.isResident(r.id)),
      "past-budget batches must be on the disk tier")
    // scans fault spilled batches back transiently — answers unchanged
    assert(g.table("s_evict").count() == expectCount)
    assert(g.table("s_evict").groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("q")).orderBy("l_returnflag")
      .collect().toSeq == expectAgg)
    // mutation against spilled batches: deltas/bitmaps compose over the
    // disk-resident payload
    g.update("s_evict", col("l_returnflag") === "R", "l_quantity" -> lit(1.0))
    g.delete("s_evict", col("l_returnflag") === "N")
    val expect2 = li
      .withColumn("l_quantity",
        when(col("l_returnflag") === "R", lit(1.0)).otherwise(col("l_quantity")))
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_returnflag").agg(sum(col("l_quantity")).as("q"))
      .orderBy("l_returnflag").collect().toSeq
    assert(g.table("s_evict").groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("q")).orderBy("l_returnflag")
      .collect().toSeq == expect2)
    // compaction rewrites through the write path: budget re-enforced
    GraftStoreOps.compact(spark, "s_evict")
    val after = GraftColumnStore("s_evict").snapshot
    assert(after.evictionBudget == 50000L && after.residentBytes <= 50000L)
    assert(g.table("s_evict").groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("q")).orderBy("l_returnflag")
      .collect().toSeq == expect2)
    g.dropTable("s_evict")
  }

  test("EVICTION_BY in DDL: LRUMEMSIZE+OVERFLOW honored, other policies stay ignored") {
    val g = GraftSession(spark)
    Tables.load(spark, sf, "orders").createOrReplaceTempView("ev_src")
    spark.sql("CREATE TABLE s_evict_ddl USING column " +
      "OPTIONS (eviction_by 'LRUMEMSIZE 1', overflow 'true') AS SELECT * FROM ev_src")
    assert(GraftColumnStore("s_evict_ddl").snapshot.evictionBudget == (1L << 20))
    assert(spark.table("s_evict_ddl").count() == spark.table("ev_src").count())
    g.dropTable("s_evict_ddl")
    // LRUHEAPPERCENT (GemFire heap-pressure policy): participating tables
    // share ONE global resident budget and spill LRU ACROSS tables
    val oldBudget = GraftColumnStore.heapOverflowBudgetBytes
    try {
      spark.sql("CREATE TABLE s_heap1 USING column " +
        "OPTIONS (eviction_by 'LRUHEAPPERCENT', overflow 'true') AS SELECT * FROM ev_src")
      assert(GraftColumnStore.isHeapOverflow("s_heap1"))
      assert(GraftColumnStore("s_heap1").snapshot.evictionBudget == 0L,
        "heap policy must not masquerade as a per-table byte budget")
      // tight global pool: the SECOND table's creation must push the
      // combined resident set under the pool by spilling LRU across both
      GraftColumnStore.heapOverflowBudgetBytes = 50000L
      spark.sql("CREATE TABLE s_heap2 USING column " +
        "OPTIONS (eviction_by 'LRUHEAPPERCENT', overflow 'true') AS SELECT * FROM ev_src")
      val pool = Seq("s_heap1", "s_heap2")
        .flatMap(t => GraftColumnStore(t).snapshot.refs.map(_.id))
      assert(pool.map(GraftColumnStore.batches.residentBytes).sum <= 50000L,
        "the global heap pool must be enforced across tables")
      assert(pool.exists(id => !GraftColumnStore.batches.isResident(id)))
      // both tables still answer exactly from the mixed tiers
      assert(spark.table("s_heap1").count() == spark.table("ev_src").count())
      assert(spark.table("s_heap2").count() == spark.table("ev_src").count())
      g.dropTable("s_heap1"); g.dropTable("s_heap2")
    } finally GraftColumnStore.heapOverflowBudgetBytes = oldBudget
  }

  test("feature interaction: lz4 + eviction + buckets + index + full DML cycle") {
    val g = GraftSession(spark)
    val orders = Tables.load(spark, sf, "orders")
    g.createTable("s_all", orders, keyColumns = Seq("o_orderkey"),
      partitionBy = Seq("o_orderkey"), buckets = 4,
      compression = "lz4", evictionBudgetBytes = 60000L)
    GraftStoreOps.createIndex(spark, "s_all", Seq("o_orderdate"), batchSize = 2048)
    val snap = GraftColumnStore("s_all").snapshot
    assert(snap.compression == "lz4" && snap.evictionBudget == 60000L &&
      snap.sortedBy == Seq("o_orderdate") && snap.numBuckets == 4)
    assert(snap.residentBytes <= 60000L)
    // full DML cycle against compressed + partially-spilled batches
    g.update("s_all", col("o_orderstatus") === "O", "o_totalprice" -> lit(1.0))
    g.delete("s_all", col("o_orderkey") % 10 === 3)
    g.putInto("s_all", orders.filter(col("o_orderkey") % 100 === 3))
    val expect = {
      val upd = orders.withColumn("o_totalprice",
        when(col("o_orderstatus") === "O", lit(1.0)).otherwise(col("o_totalprice")))
      val afterDel = upd.filter(col("o_orderkey") % 10 =!= 3)
      val putBack = orders.filter(col("o_orderkey") % 100 === 3)
      afterDel.unionByName(putBack)
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s")).head()
    }
    val got = g.table("s_all")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s")).head()
    assert(got.getLong(0) == expect.getLong(0))
    assert(math.abs(got.getDouble(1) - expect.getDouble(1)) < 1e-4)
    g.dropTable("s_all")
  }

  test("Z-ORDER clustering prunes multi-column box predicates") {
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    def freshly(name: String): Unit = {
      li.write.format(GraftStoreOps.FORMAT).option("table", name)
        .option("batch_size", "256").mode("overwrite").save()
    }
    freshly("s_z_plain")
    freshly("s_z")
    GraftStoreOps.zorderBy(spark, "s_z", Seq("l_quantity", "l_extendedprice"),
      bits = 8, batchSize = 256)
    val box = col("l_quantity").between(10.0, 20.0) &&
      col("l_extendedprice").between(20000.0, 40000.0)
    val expect = li.filter(box).count()
    def scannedDuring(name: String): (Long, Long) = {
      val s0 = GraftColumnStore.batchesScanned.get()
      val k0 = GraftColumnStore.batchesSkipped.get()
      val n = GraftStoreOps.read(spark, name).filter(box).count()
      assert(n == expect, s"$name box count $n != $expect")
      (GraftColumnStore.batchesScanned.get() - s0,
        GraftColumnStore.batchesSkipped.get() - k0)
    }
    val (plainScanned, _) = scannedDuring("s_z_plain")
    val (zScanned, zSkipped) = scannedDuring("s_z")
    assert(zSkipped > 0, "z-ordered batches must stats-prune the box predicate")
    assert(zScanned < plainScanned,
      s"z-order must scan fewer batches: $zScanned vs $plainScanned")
    // narrowness holds on EACH column individually (the single-sort
    // failure mode is uselessness on the second column)
    Seq(col("l_quantity") < 5.0, col("l_extendedprice") < 10000.0).foreach { p =>
      val k0 = GraftColumnStore.batchesSkipped.get()
      assert(GraftStoreOps.read(spark, "s_z").filter(p).count() == li.filter(p).count())
      assert(GraftColumnStore.batchesSkipped.get() > k0,
        s"z-order must prune on $p too")
    }
    GraftColumnStore.drop("s_z_plain"); GraftColumnStore.drop("s_z")
  }

  test("Z-ORDER accepts DATE columns (days-since-epoch bucketing, no ANSI cast error)") {
    val ord = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"),
        col("o_totalprice"))
    ord.write.format(GraftStoreOps.FORMAT).option("table", "s_zdate")
      .option("batch_size", "256").mode("overwrite").save()
    GraftStoreOps.zorderBy(spark, "s_zdate", Seq("o_date", "o_totalprice"))
    val probe = ord.orderBy("o_date").limit(1).head().getDate(1)
    val box = col("o_date") === lit(probe) && col("o_totalprice") < 50000.0
    val k0 = GraftColumnStore.batchesSkipped.get()
    assert(GraftStoreOps.read(spark, "s_zdate").filter(box).count() ==
      ord.filter(box).count())
    assert(GraftColumnStore.batchesSkipped.get() > k0,
      "date z-order must stats-prune")
    GraftColumnStore.drop("s_zdate")
  }

  test("Z-ORDER on a BUCKETED table: per-bucket clustering, layout preserved") {
    val g = GraftSession(spark)
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    g.createTable("s_zb", li, partitionBy = Seq("l_orderkey"), buckets = 4)
    val before = GraftColumnStore("s_zb").snapshot
    GraftStoreOps.zorderBy(spark, "s_zb", Seq("l_quantity", "l_extendedprice"),
      bits = 8, batchSize = 256)
    val after = GraftColumnStore("s_zb").snapshot
    // layout survives: same bucketing metadata, refs carry real bucket ids
    assert(after.bucketBy == before.bucketBy && after.numBuckets == 4)
    assert(after.refs.map(_.bucketId).toSet == (0 until 4).toSet)
    // rows intact (full content, not just count)
    // (orderkey, linenumber) is NOT unique in the synthetic lineitem —
    // order by every column so the comparison is deterministic
    val allCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val got = g.table("s_zb").orderBy(allCols.map(col): _*).collect()
    val exp = li.orderBy(allCols.map(col): _*).collect()
    assert(got.toSeq == exp.toSeq)
    // per-bucket z-clustering still stats-prunes box predicates
    val box = col("l_quantity").between(10.0, 20.0) &&
      col("l_extendedprice").between(20000.0, 40000.0)
    val k0 = GraftColumnStore.batchesSkipped.get()
    assert(g.table("s_zb").filter(box).count() == li.filter(box).count())
    assert(GraftColumnStore.batchesSkipped.get() > k0,
      "bucketed z-order must stats-prune the box predicate")
    // bucket pruning on the bucket column still works after the rewrite
    val b0 = GraftColumnStore.bucketsPruned.get()
    assert(g.table("s_zb").filter(col("l_orderkey") === 17L).count() ==
      li.filter(col("l_orderkey") === 17L).count())
    assert(GraftColumnStore.bucketsPruned.get() > b0,
      "bucket routing must survive the z-order rewrite")
    // compaction re-clusters from the recorded z-order metadata (the
    // bucket shuffle would otherwise scramble the curve silently)
    assert(after.zorderedBy == Seq("l_quantity", "l_extendedprice"))
    GraftStoreOps.compact(spark, "s_zb")
    val post = GraftColumnStore("s_zb").snapshot
    assert(post.zorderedBy == Seq("l_quantity", "l_extendedprice"))
    val k1 = GraftColumnStore.batchesSkipped.get()
    assert(g.table("s_zb").filter(box).count() == li.filter(box).count())
    assert(GraftColumnStore.batchesSkipped.get() > k1,
      "z-clustering must survive compaction")
    g.dropTable("s_zb")
  }

  test("OPTIMIZE ... ZORDER BY SQL form clusters a managed table") {
    val g = GraftSession(spark)
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    g.createTable("s_zsql", li)
    // granularity is PRESERVED by the rewrite (like compact) — shrink it
    // first so the tiny sf0.001 table spans multiple batches
    li.write.format(GraftStoreOps.FORMAT).option("table", "s_zsql")
      .option("batch_size", "256").mode("overwrite").save()
    val before = GraftColumnStore("s_zsql").snapshot
    spark.sql("OPTIMIZE s_zsql ZORDER BY (l_quantity, l_extendedprice)")
    val after = GraftColumnStore("s_zsql").snapshot
    assert(after.refs.map(_.id).toSet != before.refs.map(_.id).toSet,
      "the SQL form must rewrite the batches")
    assert(after.batchSize == 256, "the rewrite must keep the table's granularity")
    val box = col("l_quantity").between(10.0, 20.0) &&
      col("l_extendedprice").between(20000.0, 40000.0)
    val k0 = GraftColumnStore.batchesSkipped.get()
    assert(g.table("s_zsql").filter(box).count() == li.filter(box).count())
    assert(GraftColumnStore.batchesSkipped.get() > k0,
      "the SQL rewrite must leave stats-prunable clustering")
    g.dropTable("s_zsql")
  }

  test("checkpoint/restore round-trips a table with its full layout") {
    val g = GraftSession(spark)
    val ord = Tables.load(spark, sf, "orders")
    g.createTable("s_ckpt", ord, keyColumns = Seq("o_orderkey"),
      partitionBy = Seq("o_orderkey"), buckets = 4, compression = "lz4")
    g.update("s_ckpt", col("o_orderstatus") === "O", "o_totalprice" -> lit(5.0))
    val expect = g.table("s_ckpt").agg(sum(col("o_totalprice"))).head().getDouble(0)
    val dir = tempDir("graft-ckpt-").toString
    g.checkpointTable("s_ckpt", dir)
    g.dropTable("s_ckpt") // simulate a fresh process
    val restored = g.restoreTable("s_ckpt", dir)
    val snap = GraftColumnStore("s_ckpt").snapshot
    assert(snap.bucketBy == Seq("o_orderkey") && snap.numBuckets == 4)
    assert(snap.keyColumns == Seq("o_orderkey") && snap.compression == "lz4")
    // content reflects the pre-checkpoint mutation (snapshot-consistent)
    assert(math.abs(restored.agg(sum(col("o_totalprice"))).head().getDouble(0)
      - expect) < 1e-6)
    // the restored table mutates like the original (keys intact)
    g.putInto("s_ckpt", ord.filter(col("o_orderkey") < 5))
    assert(g.table("s_ckpt").count() == ord.count())
    g.dropTable("s_ckpt")
  }

  test("catalog-routed INSERT keeps the table's codec and eviction budget") {
    val g = GraftSession(spark)
    val docs = Tables.load(spark, sf, "documents")
    g.createTable("s_cat_keep", docs, compression = "lz4",
      evictionBudgetBytes = 1L << 20)
    val before = GraftColumnStore("s_cat_keep").snapshot
    assert(before.compression == "lz4" && before.evictionBudget == (1L << 20))
    // the INSERT resolves the table through GraftCatalog.loadTable — the
    // write must NOT reset the layout metadata
    spark.sql("INSERT INTO graft.s_cat_keep SELECT * FROM graft.s_cat_keep LIMIT 5")
    val after = GraftColumnStore("s_cat_keep").snapshot
    assert(after.compression == "lz4",
      "catalog-routed INSERT must not reset the codec")
    assert(after.evictionBudget == (1L << 20),
      "catalog-routed INSERT must not reset the eviction budget")
    assert(spark.table("graft.s_cat_keep").count() == docs.count() + 5)
    g.dropTable("s_cat_keep")
  }

  test("COMPRESSION in CREATE TABLE DDL reaches the store") {
    val g = GraftSession(spark)
    Tables.load(spark, sf, "documents").createOrReplaceTempView("cmp_src")
    spark.sql("CREATE TABLE s_lz4_ddl USING column " +
      "OPTIONS (compression 'lz4') AS SELECT * FROM cmp_src")
    assert(GraftColumnStore("s_lz4_ddl").snapshot.compression == "lz4")
    assert(spark.table("s_lz4_ddl").count() == spark.table("cmp_src").count())
    g.dropTable("s_lz4_ddl")
  }
}
