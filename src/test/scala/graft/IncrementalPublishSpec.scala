package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftManifest, GraftStoreOps, LiveCheckpoint}

/** Incremental epoch publishing ([[LiveCheckpoint]] `incremental=true`):
  * an epoch becomes a MANIFEST referencing shared per-batch payload
  * files, so publish cost is O(batches changed since the last epoch),
  * not O(table) — the 100 TB publish shape the full-snapshot form's
  * scaladoc promised. The reader-side contract is unchanged: attach
  * restores a full table and verifies the SAME whole-table fingerprint
  * (per-payload fingerprints are additive sums, so the manifest total
  * equals the full recompute exactly).
  */
class IncrementalPublishSpec extends SparkTestBase {

  private val fmt = GraftStoreOps.FORMAT

  private def write(table: String, from: Int, until: Int): Unit =
    spark.range(from, until)
      .select((col("id") % 8).as("k"), (col("id") * 2).as("v"))
      .write.format(fmt).option("table", table)
      .option("partition_by", "k").option("buckets", "4")
      .mode(if (from == 0) "overwrite" else "append").save()

  private def payloadNames(root: String): Set[String] = {
    val d = new java.io.File(root, "payloads")
    Option(d.list()).map(_.toSet).getOrElse(Set.empty)
  }

  private def manifestPayloads(root: String, epoch: Long): Seq[String] =
    Option(GraftManifest.read(spark, LiveCheckpoint.dirFor(root, epoch))
        .getProperty("payloads")).toSeq
      .flatMap(_.split(";", -1).iterator.filter(_.nonEmpty)
        .map(_.split(":", -1).last))

  test("append dumps only the new batches; unchanged ones are shared by reference") {
    val root = tempDir("inc_pub").toString
    write("inc_src", 0, 10000)
    assert(LiveCheckpoint.publish(spark, "inc_src", root, incremental = true) == 0L)
    val files0 = payloadNames(root)
    assert(files0.nonEmpty, "epoch 0 dumps every batch")
    assert(manifestPayloads(root, 0L).filter(_.nonEmpty).toSet == files0)
    // the reader serves the full content (fingerprint verified inside)
    assert(LiveCheckpoint.attachLatest(spark, "inc_srv", root) == 0L)
    assert(GraftStoreOps.read(spark, "inc_srv").count() == 10000)
    // a small append: epoch 1 must REUSE every epoch-0 payload and add
    // only the new seals' files — that is the O(delta) claim
    write("inc_src", 10000, 10100)
    assert(LiveCheckpoint.publish(spark, "inc_src", root, incremental = true) == 1L)
    val m1 = manifestPayloads(root, 1L).filter(_.nonEmpty).toSet
    assert(files0.subsetOf(m1),
      s"epoch 1 must reference epoch 0's payloads unchanged:\n$files0\n$m1")
    assert((m1 -- files0).nonEmpty && (m1 -- files0).size <= 8,
      s"only the appended seals dump: ${(m1 -- files0)}")
    assert(LiveCheckpoint.attachLatest(spark, "inc_srv", root) == 1L)
    assert(GraftStoreOps.read(spark, "inc_srv").count() == 10100)
    // the physical layout rides the incremental manifest like the full
    // one: the attached copy is a bucketed store table, not a blob
    val snap = GraftColumnStore("inc_srv").snapshot
    assert(snap.numBuckets == 4 && snap.bucketBy == Seq("k"))
    GraftColumnStore.drop("inc_src"); GraftColumnStore.drop("inc_srv")
  }

  test("a delete re-dumps only the touched batches; content is exact after attach") {
    val root = tempDir("inc_del").toString
    write("inc_d", 0, 8000)
    assert(LiveCheckpoint.publish(spark, "inc_d", root, incremental = true) == 0L)
    val m0 = manifestPayloads(root, 0L).filter(_.nonEmpty).toSet
    // delete a slice that lives in bucket hash(k=3) only — other
    // buckets' batches must keep their epoch-0 payload names
    GraftStoreOps.delete(spark, "inc_d", col("k") === 3L && col("v") < 4000L)
    assert(LiveCheckpoint.publish(spark, "inc_d", root, incremental = true) == 1L)
    val m1 = manifestPayloads(root, 1L).filter(_.nonEmpty).toSet
    assert((m0 intersect m1).nonEmpty, "untouched buckets reuse their payloads")
    assert(m0 != m1, "the deleted batch's payload must be re-dumped")
    assert(LiveCheckpoint.attachLatest(spark, "inc_dsrv", root) == 1L)
    val served = GraftStoreOps.read(spark, "inc_dsrv")
    val expect = spark.range(8000)
      .select((col("id") % 8).as("k"), (col("id") * 2).as("v"))
      .filter(!(col("k") === 3L && col("v") < 4000L))
    assert(served.count() == expect.count())
    assert(served.except(expect).isEmpty && expect.except(served).isEmpty)
    GraftColumnStore.drop("inc_d"); GraftColumnStore.drop("inc_dsrv")
  }

  test("retention GCs payloads no kept epoch references; kept epochs still attach") {
    val root = tempDir("inc_gc").toString
    write("inc_g", 0, 2000)
    (0 until 4).foreach { i =>
      // every publish mutates everything (update touches all batches),
      // so each epoch owns a fresh payload set — pruning an epoch must
      // free its files
      if (i > 0) GraftStoreOps.update(spark, "inc_g", lit(true),
        Seq("v" -> (col("v") + 1L)))
      assert(LiveCheckpoint.publish(spark, "inc_g", root,
        keep = 2, incremental = true) == i.toLong)
    }
    assert(LiveCheckpoint.committedEpochs(spark, root) == Seq(2L, 3L))
    val kept = (manifestPayloads(root, 2L) ++ manifestPayloads(root, 3L))
      .filter(_.nonEmpty).toSet
    assert(payloadNames(root) == kept,
      s"payloads on disk must be exactly the kept epochs' references:\n" +
        s"disk=${payloadNames(root)}\nkept=$kept")
    // the older kept epoch remains fully servable after GC
    LiveCheckpoint.attach(spark, "inc_gsrv", root, 2L)
    assert(GraftStoreOps.read(spark, "inc_gsrv").count() == 2000)
    // pinning a PRUNED epoch fails loudly at attach, not mid-query
    val e = intercept[Exception](
      GraftSession(spark).attachView("inc_gv", root, Some(0L), verify = false))
    assert(e.getMessage.contains("not committed"), e.getMessage)
    GraftColumnStore.drop("inc_g"); GraftColumnStore.drop("inc_gsrv")
  }

  test("epochDiff answers what-changed from the manifests alone") {
    val root = tempDir("inc_diff").toString
    write("inc_df", 0, 8000)
    assert(LiveCheckpoint.publish(spark, "inc_df", root, incremental = true) == 0L)
    // epoch 1: an append (new seals) plus a delete (re-dumps its batch)
    write("inc_df", 8000, 8100)
    GraftStoreOps.delete(spark, "inc_df", col("k") === 2L && col("v") < 2000L)
    assert(LiveCheckpoint.publish(spark, "inc_df", root, incremental = true) == 1L)
    val d = LiveCheckpoint.epochDiff(spark, root, 0L, 1L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(d("carried")._1 > 0, s"untouched batches carry: $d")
    assert(d("redumped")._1 > 0, s"the deleted batch re-dumps: $d")
    assert(d("added")._1 > 0 && d("added")._2 == 100, s"appended seals add: $d")
    assert(d("removed")._1 == 0, s"nothing left the manifest: $d")
    // total destination rows reconcile with the served count
    assert(d("carried")._2 + d("redumped")._2 + d("added")._2 ==
      LiveCheckpoint.epochFrame(spark, root, 1L).count())
    GraftColumnStore.drop("inc_df")
  }

  test("attachView serves epochs zero-copy: O(manifest) attach, pushdown scans, advances, refuses writes") {
    val g = GraftSession(spark)
    val root = tempDir("inc_view").toString
    import spark.implicits._
    write("inc_v", 0, 20000)
    assert(LiveCheckpoint.publish(spark, "inc_v", root, incremental = true) == 0L)
    assert(g.attachView("inc_vsrv", root, verify = true) == 0L)
    // ZERO-copy: nothing restored into this JVM's store registries
    assert(GraftColumnStore.get("inc_vsrv").isEmpty,
      "attachView must not materialize a store copy")
    assert(g.table("inc_vsrv").count() == 20000)
    // the view is a parquet scan: filters reach the files
    val plan = g.table("inc_vsrv").filter(col("k") === 3L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("k"), plan)
    // the publisher advances; a re-attach serves the NEW epoch
    GraftStoreOps.delete(spark, "inc_v", col("v") < 2000L)
    assert(LiveCheckpoint.publish(spark, "inc_v", root, incremental = true) == 1L)
    assert(g.attachView("inc_vsrv", root) == 1L)
    assert(g.table("inc_vsrv").count() == 19000)
    assert(g.table("inc_vsrv").filter(col("v") < 2000L).isEmpty)
    // read-only: session mutations refuse the view replica too
    assert(intercept[Exception](
      g.insert("inc_vsrv", Seq((1L, 2L)).toDF("k", "v")))
      .getMessage.contains("read replica"))
    // sys.replicas records the provenance: which root + epoch, which face
    val rep = spark.sql(
      "SELECT mode, epoch, root FROM sys.replicas WHERE name = 'inc_vsrv'")
      .head()
    assert(rep.getString(0) == "view" && rep.getLong(1) == 1L &&
      rep.getString(2) == root)
    // verify=true catches a tampered epoch the default trusts the
    // protocol not to produce
    GraftManifest.write(spark, LiveCheckpoint.dirFor(root, 1L), Seq(
      "epoch" -> "1", "rows" -> "1", "content_hash" -> "1", "table" -> "inc_v"),
      "tampered", LiveCheckpoint.EPOCH_PROPS)
    assert(intercept[IllegalStateException](
      g.attachView("inc_vsrv2", root, verify = true))
      .getMessage.contains("torn snapshot"))
    g.dropTable("inc_vsrv")
    GraftColumnStore.drop("inc_v")
  }

  test("stress: random mutation interleavings publish verifiable epochs (seeded)") {
    // the property the whole design hangs on: WHATEVER sequence of
    // appends / deletes / updates / roll-ups precedes a publish, the
    // manifest's summed fingerprint equals the restored table's — the
    // attach verifies it, so every iteration is its own oracle. Reuse
    // is exercised incidentally (untouched buckets carry over).
    val rnd = new scala.util.Random(20260815L)
    val root = tempDir("inc_fuzz").toString
    write("inc_fz", 0, 4000)
    var hi = 4000L
    var expected = (0L until 4000L).map(i => (i % 8, i * 2)).toSet
    (0 until 12).foreach { i =>
      rnd.nextInt(4) match {
        case 0 => // append
          val n = 100 + rnd.nextInt(300)
          write("inc_fz", hi.toInt, (hi + n).toInt)
          expected ++= (hi until hi + n).map(i => (i % 8, i * 2))
          hi += n
        case 1 => // delete a random value slice
          val lo = rnd.nextInt(hi.toInt).toLong * 2
          val cut = (lo, lo + 600)
          GraftStoreOps.delete(spark, "inc_fz",
            col("v") >= cut._1 && col("v") < cut._2)
          expected = expected.filterNot(kv => kv._2 >= cut._1 && kv._2 < cut._2)
        case 2 => // update a random bucket's values
          val b = rnd.nextInt(8).toLong
          GraftStoreOps.update(spark, "inc_fz", col("k") === b,
            Seq("v" -> (col("v") + 1000000L)))
          expected = expected.map { case (k, v) =>
            if (k == b) (k, v + 1000000L) else (k, v)
          }
        case 3 => // roll up fragmented tails (pure layout change)
          GraftStoreOps.rollupSmallBatches(spark, "inc_fz", minBatches = 2)
      }
      val e = LiveCheckpoint.publish(spark, "inc_fz", root,
        keep = 3, incremental = true)
      assert(e == i.toLong)
      // attach verifies the manifest fingerprint against restored rows
      assert(LiveCheckpoint.attachLatest(spark, "inc_fzsrv", root) == e)
      val got = GraftStoreOps.read(spark, "inc_fzsrv")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"iteration $i: content diverged (got ${got.size}, want ${expected.size})")
    }
    GraftColumnStore.drop("inc_fz"); GraftColumnStore.drop("inc_fzsrv")
  }

  test("above the threshold the payload manifest rides a parquet sidecar; all consumers decode it") {
    // the property form is O(entries) inside layout.properties (~50 B
    // each, documented fine to ~100k batches); past the threshold a
    // parquet sidecar carries the SAME entries and every consumer —
    // attach, reuse map, epochDiff, retention GC — reads through the one
    // shared decoder. Threshold dropped to 2 so a small table crosses it.
    val root = tempDir("inc_side").toString
    spark.conf.set(LiveCheckpoint.SIDECAR_THRESHOLD_KEY, "2")
    try {
      write("inc_sc", 0, 10000) // 4 buckets => >2 payload entries
      assert(LiveCheckpoint.publish(spark, "inc_sc", root, incremental = true) == 0L)
      val p0 = GraftManifest.read(spark, LiveCheckpoint.dirFor(root, 0L))
      assert(p0.getProperty("payloads_sidecar") == "true" &&
        p0.getProperty("payloads") == null,
        "above threshold the manifest line must not carry the entry list")
      // attach decodes the sidecar and verifies the summed fingerprint
      assert(LiveCheckpoint.attachLatest(spark, "inc_scsrv", root) == 0L)
      assert(GraftStoreOps.read(spark, "inc_scsrv").count() == 10000)
      // the NEXT publish's reuse map reads the sidecar too: an append
      // must still carry every epoch-0 payload by reference
      val files0 = payloadNames(root)
      write("inc_sc", 10000, 10100)
      assert(LiveCheckpoint.publish(spark, "inc_sc", root, incremental = true) == 1L)
      assert(files0.subsetOf(payloadNames(root)),
        "sidecar-described payloads must be reused, not re-dumped")
      // epochDiff across two sidecar epochs answers from manifests alone
      val d = LiveCheckpoint.epochDiff(spark, root, 0L, 1L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(d("carried") > 0 && d("added") > 0 && d("removed") == 0, d.toString)
      // retention GC keeps exactly the kept epochs' sidecar references
      GraftStoreOps.update(spark, "inc_sc", lit(true), Seq("v" -> (col("v") + 1L)))
      assert(LiveCheckpoint.publish(spark, "inc_sc", root,
        keep = 1, incremental = true) == 2L)
      val layout2 = GraftManifest.read(spark, LiveCheckpoint.dirFor(root, 2L))
      assert(LiveCheckpoint.committedEpochs(spark, root) == Seq(2L))
      assert(layout2.getProperty("payloads_sidecar") == "true")
      assert(LiveCheckpoint.attachLatest(spark, "inc_scsrv", root) == 2L)
      assert(GraftStoreOps.read(spark, "inc_scsrv").count() == 10100)
      // zero-copy view path reads through the sidecar as well
      assert(GraftSession(spark).attachView("inc_scview", root) == 2L)
      assert(GraftSession(spark).table("inc_scview").count() == 10100)
      GraftSession(spark).dropTable("inc_scview")
    } finally spark.conf.unset(LiveCheckpoint.SIDECAR_THRESHOLD_KEY)
    GraftColumnStore.drop("inc_sc"); GraftColumnStore.drop("inc_scsrv")
  }

  test("session face: incremental publish/attach with constraints; row tables fall back to full") {
    val g = GraftSession(spark)
    val root = tempDir("inc_sess").toString
    import spark.implicits._
    g.sql("CREATE TABLE inc_pub (pk bigint, v string not null) USING column " +
      "OPTIONS (partition_by 'pk', buckets '4')")
    g.insert("inc_pub", (1L to 500L).map(i => (i, s"v$i")).toDF("pk", "v"))
    assert(g.publishTable("inc_pub", root, incremental = true) == 0L)
    g.insert("inc_pub", Seq((501L, "x")).toDF("pk", "v"))
    assert(g.publishTable("inc_pub", root, incremental = true) == 1L)
    assert(g.attachTable("inc_srv2", root) == 1L)
    assert(g.table("inc_srv2").count() == 501)
    // the constraints sidecar rides incremental epochs identically
    assert(org.apache.spark.sql.graft.Constraints.get("inc_srv2")
      .exists(_.notNull.nonEmpty))
    // and the replica guard holds for the incremental attach too
    intercept[Exception](g.insert("inc_srv2", Seq((9L, "y")).toDF("pk", "v")))
    g.dropTable("inc_pub"); g.dropTable("inc_srv2")
  }

  test("row tables publish O(delta) too: pack reuse, tombstone re-dump, keyed layout rides") {
    import org.apache.spark.sql.graft.store.{GraftRowOps, GraftRowStore}
    import spark.implicits._
    val rfmt = GraftRowOps.FORMAT
    def writeRows(from: Long, until: Long, mode: String): Unit =
      (from until until).map(i => (i, i * 2)).toDF("rk", "rv")
        .write.format(rfmt).option("table", "inc_row")
        .option("key_columns", "rk").option("partition_by", "rk")
        .option("buckets", "4").mode(mode).save()
    val root = tempDir("inc_row").toString
    writeRows(0, 2000, "overwrite")
    assert(LiveCheckpoint.publish(spark, "inc_row", root, incremental = true) == 0L)
    val m0 = manifestPayloads(root, 0L).filter(_.nonEmpty).toSet
    assert(m0.nonEmpty && m0.forall(_.startsWith("p")), m0.toString)
    assert(LiveCheckpoint.attachLatest(spark, "inc_rsrv", root) == 0L)
    assert(GraftRowOps.read(spark, "inc_rsrv").count() == 2000)
    // a small append: epoch 1 reuses EVERY epoch-0 pack payload and adds
    // only the new packs — the O(delta) claim for row tables
    writeRows(2000, 2100, "append")
    assert(LiveCheckpoint.publish(spark, "inc_row", root, incremental = true) == 1L)
    val m1 = manifestPayloads(root, 1L).filter(_.nonEmpty).toSet
    assert(m0.subsetOf(m1),
      s"epoch 1 must reference epoch 0's pack payloads unchanged:\n$m0\n$m1")
    assert((m1 -- m0).nonEmpty && (m1 -- m0).size <= 8,
      s"only the appended packs dump: ${m1 -- m0}")
    // a keyed DELETE tombstones rows inside existing packs: exactly the
    // touched packs re-dump (their tombstone fingerprint moved), the
    // rest carry; attach verifies the whole-table fingerprint as always
    GraftRowOps.delete(spark, "inc_row", col("rk") < 50L)
    assert(LiveCheckpoint.publish(spark, "inc_row", root, incremental = true) == 2L)
    val m2 = manifestPayloads(root, 2L).filter(_.nonEmpty).toSet
    assert((m1 intersect m2).nonEmpty, "untouched packs reuse their payloads")
    assert(m1 != m2, "tombstoned packs must re-dump")
    assert(LiveCheckpoint.attachLatest(spark, "inc_rsrv", root) == 2L)
    val served = GraftRowOps.read(spark, "inc_rsrv")
    assert(served.count() == 2050)
    assert(served.filter(col("rk") < 50L).count() == 0)
    // the attached copy is a real keyed/bucketed row table (point
    // lookups and storage-partitioning survive the manifest round trip)
    val snap = GraftRowStore("inc_rsrv").snapshot
    assert(snap.keyColumns == Seq("rk") && snap.numBuckets == 4)
    GraftRowStore.drop("inc_row"); GraftRowStore.drop("inc_rsrv")
  }
}
