package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftManifest, GraftStoreOps, LiveCheckpoint}

/** Epoch-versioned checkpoint publishing ([[LiveCheckpoint]]) — the
  * commit-marker protocol the two-process serving proof
  * (`tools/live_store_serve.sh`) runs across JVMs. This spec pins the
  * protocol's single-JVM invariants: marker-last publish (in-flight
  * epochs invisible), fingerprint-verified attach (torn snapshots
  * abort, never serve), advancing epochs, retention with continuous
  * numbering.
  */
class LiveCheckpointSpec extends SparkTestBase {

  private val fmt = GraftStoreOps.FORMAT

  private def write(table: String, n: Int): Unit =
    spark.range(n)
      .select((col("id") % 8).as("k"), (col("id") * 2).as("v"))
      .write.format(fmt).option("table", table)
      .option("partition_by", "k").option("buckets", "4")
      .mode("overwrite").save()

  test("publish/attach round-trips; the served snapshot advances with commits") {
    val root = tempDir("lc_root").toString
    write("lc_src", 1000)
    assert(LiveCheckpoint.publish(spark, "lc_src", root) == 0L)
    assert(LiveCheckpoint.attachLatest(spark, "lc_srv", root) == 0L)
    assert(GraftStoreOps.read(spark, "lc_srv").count() == 1000)
    // writer keeps going: append + delete, then publishes epoch 1
    spark.range(1000, 1500)
      .select((col("id") % 8).as("k"), (col("id") * 2).as("v"))
      .write.format(fmt).option("table", "lc_src").mode("append").save()
    GraftStoreOps.delete(spark, "lc_src", col("v") < 20)
    assert(LiveCheckpoint.publish(spark, "lc_src", root) == 1L)
    // the reader's next attach serves the ADVANCED snapshot
    assert(LiveCheckpoint.attachLatest(spark, "lc_srv", root) == 1L)
    val served = GraftStoreOps.read(spark, "lc_srv")
    assert(served.count() == 1490)
    assert(served.filter(col("v") < 20).count() == 0)
    // the restored table kept the published layout
    val snap = GraftColumnStore("lc_srv").snapshot
    assert(snap.numBuckets == 4 && snap.bucketBy == Seq("k"))
    GraftColumnStore.drop("lc_src"); GraftColumnStore.drop("lc_srv")
  }

  test("an epoch without its marker is invisible; a tampered epoch aborts the attach") {
    val root = tempDir("lc_torn").toString
    write("lc_t", 500)
    LiveCheckpoint.publish(spark, "lc_t", root)
    // an in-flight (torn) epoch: directory + data, NO marker
    val torn = new java.io.File(s"$root/epoch_00000007/data")
    torn.mkdirs()
    assert(LiveCheckpoint.latestEpoch(spark, root).contains(0L),
      "unmarked epochs must stay invisible to readers")
    assert(LiveCheckpoint.attachLatest(spark, "lc_tsrv", root) == 0L)
    // tamper: corrupt the published fingerprint — the attach must abort
    // rather than serve content that differs from the manifest
    GraftManifest.write(spark, s"$root/epoch_00000000", Seq(
      "epoch" -> "0", "rows" -> "499", "content_hash" -> "1", "table" -> "lc_t"),
      "tampered", LiveCheckpoint.EPOCH_PROPS)
    val e = intercept[IllegalStateException](
      LiveCheckpoint.attach(spark, "lc_tsrv", root, 0L))
    assert(e.getMessage.contains("torn snapshot"))
    // and the known-bad snapshot is not left registered as servable
    assert(GraftColumnStore.get("lc_tsrv").isEmpty)
    GraftColumnStore.drop("lc_t")
  }

  test("row tables publish and attach too (provider dispatch from the layout manifest)") {
    val root = tempDir("lc_row").toString
    import spark.implicits._
    (1L to 500L).map(i => (i, s"v$i")).toDF("pk", "v")
      .write.format(org.apache.spark.sql.graft.store.GraftRowOps.FORMAT)
      .option("table", "lc_row").option("key_columns", "pk")
      .mode("overwrite").save()
    assert(LiveCheckpoint.publish(spark, "lc_row", root) == 0L)
    // mutate + republish: the served snapshot advances
    org.apache.spark.sql.graft.store.GraftRowOps.delete(
      spark, "lc_row", col("pk") <= 100L)
    assert(LiveCheckpoint.publish(spark, "lc_row", root) == 1L)
    assert(LiveCheckpoint.attachLatest(spark, "lc_rowsrv", root) == 1L)
    val served = org.apache.spark.sql.graft.store.GraftRowOps.read(spark, "lc_rowsrv")
    assert(served.count() == 400 && served.filter(col("pk") === 50L).isEmpty)
    // the restored table is a real keyed row table (point lookup works)
    assert(served.filter(col("pk") === 321L).head().getString(1) == "v321")
    org.apache.spark.sql.graft.store.GraftRowStore.drop("lc_row")
    org.apache.spark.sql.graft.store.GraftRowStore.drop("lc_rowsrv")
  }

  test("session face: publishTable to the bound diskstore, attachTable serves + enforces constraints") {
    val g = GraftSession(spark)
    val dsDir = tempDir("lc_ds").toString
    g.sql(s"CREATE DISKSTORE lc_store ('$dsDir')")
    import spark.implicits._
    g.sql("CREATE TABLE lc_pub (pk bigint primary key, v string not null) " +
      "USING row OPTIONS (diskstore 'lc_store')")
    g.insert("lc_pub", Seq((1L, "a"), (2L, "b")).toDF("pk", "v"))
    assert(g.publishTable("lc_pub") == 0L) // no-root form: diskstore binding
    g.insert("lc_pub", Seq((3L, "c")).toDF("pk", "v"))
    assert(g.publishTable("lc_pub") == 1L)
    // a reader attaches the advancing snapshot under its own name and
    // the attached copy is a MANAGED table with the constraints riding
    val root = s"$dsDir/lc_pub"
    assert(g.attachTable("lc_srv2", root) == 1L)
    assert(g.isManaged("lc_srv2") && g.table("lc_srv2").count() == 3)
    // attached tables are READ replicas: every mutation path refuses
    // (a local write would silently diverge from the publisher — the
    // reference's connector tables write through; an epoch copy cannot)
    val dup = Seq((9L, "x")).toDF("pk", "v")
    assert(intercept[Exception](g.insert("lc_srv2", dup))
      .getMessage.contains("read replica"))
    intercept[Exception](g.putInto("lc_srv2", dup))
    intercept[Exception](g.update("lc_srv2", col("pk") === 1L, "v" -> lit("y")))
    intercept[Exception](g.delete("lc_srv2", col("pk") === 1L))
    intercept[Exception](g.truncateTable("lc_srv2"))
    assert(g.table("lc_srv2").count() == 3, "reads untouched by the guard")
    // the PUBLISHING table stays writable, and an explicit CREATE over
    // the replica name supersedes replica status
    g.insert("lc_pub", Seq((4L, "d")).toDF("pk", "v"))
    g.createTable("lc_srv2", Seq((1L, 2L)).toDF("a", "b"))
    g.insert("lc_srv2", Seq((3L, 4L)).toDF("a", "b"))
    assert(g.table("lc_srv2").count() == 2)
    g.dropTable("lc_srv2"); g.dropTable("lc_pub")
    g.sql("DROP DISKSTORE lc_store")
  }

  test("DSv2 and store-ops write paths refuse an attached replica (store-level guard)") {
    val g = GraftSession(spark)
    val root = tempDir("lc_dsv2").toString
    import spark.implicits._
    import org.apache.spark.sql.graft.store.GraftStoreOps
    write("lc_gpub", 50)
    assert(LiveCheckpoint.publish(spark, "lc_gpub", root) == 0L)
    assert(g.attachTable("lc_grep", root) == 0L)
    // the session guard never sees these paths — replica status must
    // live at the STORE level (the advice's divergence scenario)
    def deepMsg(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    val viaSql = intercept[Exception](
      spark.sql("INSERT INTO graft.lc_grep VALUES (999, 999)"))
    assert(deepMsg(viaSql).contains("read replica"), deepMsg(viaSql))
    val df = Seq((999L, 999L)).toDF("k", "v")
    val viaWriter = intercept[Exception](
      df.write.format(GraftStoreOps.FORMAT).option("table", "lc_grep")
        .mode("append").save())
    assert(deepMsg(viaWriter).contains("read replica"), deepMsg(viaWriter))
    intercept[Exception](GraftStoreOps.putInto(spark, "lc_grep", df))
    intercept[Exception](GraftStoreOps.update(spark, "lc_grep",
      lit(true), Seq.empty))
    intercept[Exception](GraftStoreOps.delete(spark, "lc_grep", lit(true)))
    intercept[Exception](spark.sql(
      "ALTER TABLE graft.lc_grep ADD COLUMN extra int"))
    val n = spark.table("graft.lc_grep").count()
    assert(n == 50, "reads untouched; no write slipped through")
    // DROP + CREATE of the name through the DSv2 catalog starts writable
    spark.sql("DROP TABLE graft.lc_grep")
    spark.sql("CREATE TABLE graft.lc_grep (k bigint, v bigint)")
    spark.sql("INSERT INTO graft.lc_grep VALUES (1, 2)")
    assert(spark.table("graft.lc_grep").count() == 1)
    spark.sql("DROP TABLE graft.lc_grep")
    // the catalog drop doesn't know about the session's managed entry
    // from attachTable — clear it so sys.* relations don't see a ghost
    g.dropTable("lc_grep")
    GraftColumnStore.drop("lc_gpub")
  }

  test("re-attach drops the old epoch's constraints when the publisher dropped them") {
    val g = GraftSession(spark)
    val root = tempDir("lc_cons").toString
    import spark.implicits._
    import org.apache.spark.sql.graft.Constraints
    g.sql("CREATE TABLE lc_cpub (pk bigint, v string not null) USING column")
    g.insert("lc_cpub", Seq((1L, "a")).toDF("pk", "v"))
    assert(g.publishTable("lc_cpub", root) == 0L)
    assert(g.attachTable("lc_csrv", root) == 0L)
    assert(Constraints.get("lc_csrv").exists(_.notNull.nonEmpty),
      "epoch 0 carries the NOT NULL")
    // the publisher drops the constraint surface entirely (recreate
    // without it) and publishes epoch 1 — no sidecar is written
    g.dropTable("lc_cpub")
    g.sql("CREATE TABLE lc_cpub (pk bigint, v string) USING column")
    g.insert("lc_cpub", Seq((1L, "a"), (2L, "b")).toDF("pk", "v"))
    assert(g.publishTable("lc_cpub", root) == 1L)
    assert(g.attachTable("lc_csrv", root) == 1L)
    // absence of the sidecar means NO constraints: the old epoch's
    // NOT NULL must not survive the re-attach
    assert(Constraints.get("lc_csrv").forall(_.isEmpty),
      s"stale constraints survived re-attach: ${Constraints.get("lc_csrv")}")
    g.dropTable("lc_cpub"); g.dropTable("lc_csrv")
  }

  test("SQL faces: PUBLISH TABLE / ATTACH TABLE / ATTACH VIEW ... EPOCH n VERIFY") {
    val g = GraftSession(spark)
    val root = tempDir("lc_sql").toString
    import spark.implicits._
    g.sql("CREATE TABLE lc_sqlt (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4')")
    g.insert("lc_sqlt", (1L to 400L).map(i => (i % 4, i)).toDF("k", "v"))
    // PUBLISH returns the epoch it committed — a SQL client can record
    // which snapshot it published
    assert(g.sql(s"PUBLISH TABLE lc_sqlt INCREMENTAL TO '$root'")
      .head().getLong(0) == 0L)
    g.delete("lc_sqlt", col("v") <= 100L)
    assert(g.sql(s"PUBLISH TABLE lc_sqlt INCREMENTAL TO '$root'")
      .head().getLong(0) == 1L)
    // ATTACH TABLE serves the newest epoch (post-delete)
    assert(g.sql(s"ATTACH TABLE lc_sqlsrv FROM '$root'").head().getLong(0) == 1L)
    assert(g.table("lc_sqlsrv").count() == 300)
    // ATTACH VIEW pinned to epoch 0 answers PRE-delete, verified
    assert(g.sql(s"ATTACH VIEW lc_sqlview FROM '$root' EPOCH 0 VERIFY")
      .head().getLong(0) == 0L)
    assert(g.table("lc_sqlview").count() == 400)
    // provenance surfaces both faces
    val reps = spark.sql("SELECT name, mode, epoch FROM sys.replicas " +
      "WHERE name LIKE 'lc_sql%' ORDER BY name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(reps == Seq(("lc_sqlsrv", "table", 1L), ("lc_sqlview", "view", 0L)), reps)
    g.dropTable("lc_sqlview"); g.dropTable("lc_sqlsrv"); g.dropTable("lc_sqlt")
  }

  test("a claimed epoch number is never co-written: the publisher advances past it") {
    val root = tempDir("lc_claim").toString
    write("lc_cl", 100)
    assert(LiveCheckpoint.publish(spark, "lc_cl", root) == 0L)
    // a concurrent (or crashed) publisher holds the claim on epoch 1:
    // this publisher must NOT co-write that directory — it takes 2
    new java.io.File(root, ".claim_epoch_00000001").createNewFile()
    assert(LiveCheckpoint.publish(spark, "lc_cl", root) == 2L)
    // readers see only the committed epochs; the claimed-but-never-
    // committed number stays invisible forever
    assert(LiveCheckpoint.committedEpochs(spark, root) == Seq(0L, 2L))
    assert(LiveCheckpoint.attachLatest(spark, "lc_clsrv", root) == 2L)
    GraftColumnStore.drop("lc_cl"); GraftColumnStore.drop("lc_clsrv")
  }

  test("retention prunes old epochs but numbering continues") {
    val root = tempDir("lc_keep").toString
    write("lc_k", 100)
    (0 until 5).foreach { i =>
      assert(LiveCheckpoint.publish(spark, "lc_k", root, keep = 2) == i.toLong)
    }
    assert(LiveCheckpoint.committedEpochs(spark, root) == Seq(3L, 4L))
    // a new publish after pruning continues the sequence — epoch ids
    // never recycle, so a reader can order snapshots across retention
    assert(LiveCheckpoint.publish(spark, "lc_k", root, keep = 2) == 5L)
    GraftColumnStore.drop("lc_k")
  }
}
