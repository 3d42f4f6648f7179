package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{EpochPrunedException, GraftColumnStore,
  GraftManifest, GraftStoreOps, LiveCheckpoint, ReplicaGuard}

/** Serving-lifetime hardening of the zero-copy view path, plus the
  * unified replica registry. Pins the documented attachView tradeoff:
  * the view reads the published files for its serving lifetime, so a
  * publisher outrunning retention deletes them mid-serving —
  * [[GraftSession.servingRead]] must survive that with the prescribed
  * re-attach-and-retry for unpinned views and the typed
  * [[EpochPrunedException]] for pinned ones, while a missing file under
  * a STILL-COMMITTED epoch (corruption, not retention) propagates
  * untouched.
  */
class ServingLifecycleSpec extends SparkTestBase {

  private val fmt = GraftStoreOps.FORMAT
  private def g = GraftSession(spark)

  private def write(table: String, n: Int): Unit =
    spark.range(n)
      .select((col("id") % 8).as("k"), (col("id") * 2).as("v"))
      .write.format(fmt).option("table", table)
      .option("partition_by", "k").option("buckets", "4")
      .mode("overwrite").save()

  test("an unpinned view survives the publisher outrunning retention: servingRead re-attaches and retries") {
    val root = tempDir("srv_race").toString
    write("srv_r", 4000)
    assert(LiveCheckpoint.publish(spark, "srv_r", root,
      keep = 1, incremental = true) == 0L)
    assert(g.attachView("srv_view", root) == 0L)
    assert(g.servingRead("srv_view")(_.count()) == 4000)
    // the publisher rewrites everything and publishes with keep=1:
    // epoch 0's directory AND its now-unreferenced payloads are deleted
    GraftStoreOps.update(spark, "srv_r", lit(true), Seq("v" -> (col("v") + 1L)))
    assert(LiveCheckpoint.publish(spark, "srv_r", root,
      keep = 1, incremental = true) == 1L)
    assert(!LiveCheckpoint.committedEpochs(spark, root).contains(0L))
    // the raw view now reads deleted files — that failure is the setup
    intercept[Exception](g.table("srv_view").count())
    // the hardened read path recovers: re-attach to epoch 1, retry once
    assert(g.servingRead("srv_view")(_.filter(col("v") % 2 === 1).count()) == 4000,
      "the retried read must serve the NEW epoch's content")
    val rep = spark.sql("SELECT epoch, pinned FROM sys.replicas " +
      "WHERE name = 'srv_view'").head()
    assert(rep.getLong(0) == 1L && !rep.getBoolean(1),
      "sys.replicas reflects the advanced epoch")
    g.dropTable("srv_view"); GraftColumnStore.drop("srv_r")
  }

  test("a PINNED view raises the typed EpochPrunedException — the pin is a reproducibility promise") {
    val root = tempDir("srv_pin").toString
    write("srv_p", 2000)
    assert(LiveCheckpoint.publish(spark, "srv_p", root,
      keep = 1, incremental = true) == 0L)
    assert(g.attachView("srv_pview", root, epoch = Some(0L), verify = false) == 0L)
    assert(spark.sql("SELECT pinned FROM sys.replicas WHERE name = 'srv_pview'")
      .head().getBoolean(0))
    GraftStoreOps.update(spark, "srv_p", lit(true), Seq("v" -> (col("v") + 1L)))
    assert(LiveCheckpoint.publish(spark, "srv_p", root,
      keep = 1, incremental = true) == 1L)
    val e = intercept[EpochPrunedException](
      g.servingRead("srv_pview")(_.count()))
    assert(e.epoch == 0L && e.getMessage.contains("pruned by retention"),
      e.getMessage)
    // the prescribed recovery works: re-attach (here to the newest) and read
    assert(g.attachView("srv_pview", root) == 1L)
    assert(g.servingRead("srv_pview")(_.count()) == 2000)
    g.dropTable("srv_pview"); GraftColumnStore.drop("srv_p")
  }

  test("a missing file under a STILL-COMMITTED epoch is corruption: the original error propagates") {
    val root = tempDir("srv_corr").toString
    write("srv_c", 2000)
    // full (non-incremental) epoch: data lives under epoch_0/data
    assert(LiveCheckpoint.publish(spark, "srv_c", root) == 0L)
    assert(g.attachView("srv_cview", root) == 0L)
    val dataDir = new java.io.File(
      LiveCheckpoint.dirFor(root, 0L).stripPrefix("file:"), "data")
    dataDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.delete()))
    val e = intercept[Exception](g.servingRead("srv_cview")(_.count()))
    assert(!e.isInstanceOf[EpochPrunedException],
      s"a committed epoch's missing files must NOT read as retention: $e")
    g.dropTable("srv_cview"); GraftColumnStore.drop("srv_c")
  }

  test("refreshView advances an attached view to the newest committed epoch") {
    val root = tempDir("srv_ref").toString
    write("srv_f", 1000)
    assert(LiveCheckpoint.publish(spark, "srv_f", root, incremental = true) == 0L)
    assert(g.attachView("srv_fview", root) == 0L)
    GraftStoreOps.delete(spark, "srv_f", col("v") >= 1000L)
    assert(LiveCheckpoint.publish(spark, "srv_f", root, incremental = true) == 1L)
    assert(g.refreshView("srv_fview") == 1L)
    assert(g.table("srv_fview").count() == 500)
    intercept[IllegalArgumentException](g.refreshView("srv_f")) // not a view
    g.dropTable("srv_fview"); GraftColumnStore.drop("srv_f")
  }

  test("sys.replicas is JVM-global beside the guard: another session's attach is visible with its owner") {
    val root = tempDir("srv_sess").toString
    write("srv_s", 500)
    assert(LiveCheckpoint.publish(spark, "srv_s", root) == 0L)
    val spark2 = spark.newSession()
    val g2 = GraftSession(spark2)
    assert(g2.sessionId != g.sessionId)
    assert(g2.attachView("srv_sview", root) == 0L)
    // session 1 never attached anything under this name, yet sees the
    // replica AND its provenance — introspection matches enforcement
    val row = g.sysReplicas.filter(col("name") === "srv_sview").head()
    assert(row.getString(1) == "view" && row.getLong(2) == 0L &&
      row.getString(5) == g2.sessionId, row.toString)
    // and enforcement holds from session 1's side too (store-level guard)
    assert(intercept[Exception] {
      spark.range(1).select((col("id") % 8).as("k"), col("id").as("v"))
        .write.format(fmt).option("table", "srv_sview").mode("append").save()
    }.getMessage.contains("read replica"))
    g2.dropTable("srv_sview")
    assert(g.sysReplicas.filter(col("name") === "srv_sview").isEmpty)
    GraftColumnStore.drop("srv_s")
  }

  test("a DSv2 CREATE TABLE supersedes a stale replica flag left by attachView") {
    val root = tempDir("srv_cre").toString
    write("srv_x", 100)
    assert(LiveCheckpoint.publish(spark, "srv_x", root) == 0L)
    assert(g.attachView("srv_xview", root) == 0L)
    assert(ReplicaGuard.isReplica("srv_xview"))
    // attachView marked the name WITHOUT creating a store table, so a
    // DSv2 CREATE succeeds — and must clear the flag, or every write
    // after it would be refused as 'read replica'
    spark.sql("DROP VIEW IF EXISTS srv_xview")
    spark.sql("CREATE TABLE graft.srv_xview (k bigint, v bigint)")
    assert(!ReplicaGuard.isReplica("srv_xview"))
    spark.sql("INSERT INTO graft.srv_xview VALUES (1, 2)")
    assert(spark.table("graft.srv_xview").count() == 1)
    spark.sql("DROP TABLE graft.srv_xview")
    GraftColumnStore.drop("srv_x")
  }

  test("an incremental publish of an emptied table falls back to the schema-carrying full form") {
    val root = tempDir("srv_empty").toString
    write("srv_e", 1000)
    assert(LiveCheckpoint.publish(spark, "srv_e", root, incremental = true) == 0L)
    // every live row deleted: an all-empty payload manifest could never
    // be attached (no parquet carries the schema) — the publish must
    // fall back to the full-dump form on the SAME snapshot it read
    GraftStoreOps.delete(spark, "srv_e", lit(true))
    assert(LiveCheckpoint.publish(spark, "srv_e", root, incremental = true) == 1L)
    val props = GraftManifest.read(spark, LiveCheckpoint.dirFor(root, 1L))
    assert(props.getProperty("incremental", "false") != "true",
      "the emptied epoch must publish as a full dump")
    assert(LiveCheckpoint.attachLatest(spark, "srv_esrv", root) == 1L)
    val served = GraftStoreOps.read(spark, "srv_esrv")
    assert(served.count() == 0 &&
      served.columns.toSeq == Seq("k", "v"), "schema survives an empty epoch")
    GraftColumnStore.drop("srv_e"); GraftColumnStore.drop("srv_esrv")
  }
}
