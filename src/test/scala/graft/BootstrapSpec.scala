package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{Diskstores, GraftColumnStore, LiveCheckpoint}

/** Durable catalog bootstrap ([[GraftSession.bootstrap]] / `BOOTSTRAP
  * CATALOG`): a cold JVM re-discovers every table its registered
  * diskstores hold — the reference persists its catalog INSIDE the store
  * (SnappyHiveExternalCatalog / StoreHiveCatalog) so recovery never
  * needs table names; our sweep is the explicit-face equivalent. The
  * true two-process arm lives in `tools/cross_jvm_restore.sh` phase 3;
  * these specs pin the rules (conflict handling, newest-artifact-wins,
  * owned-not-replica) in-process by dropping local state between acts.
  */
class BootstrapSpec extends SparkTestBase {

  private def g = GraftSession(spark)

  test("bootstrap restores checkpoint and epoch tables from a diskstore sweep; existing names win") {
    val dir = tempDir("boot_ds").toString
    g.sql(s"CREATE DISKSTORE boot_ds1 ('$dir')")
    // a checkpointed column table and an epoch-published one, both under
    // the diskstore-default layout (<dir>/<table>)
    g.sql("CREATE TABLE boot_a (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4', diskstore 'boot_ds1')")
    g.insert("boot_a", spark.range(1000)
      .select((col("id") % 8).as("k"), col("id").as("v")))
    g.checkpointTable("boot_a")
    g.sql("CREATE TABLE boot_b (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4', diskstore 'boot_ds1')")
    g.insert("boot_b", spark.range(500)
      .select((col("id") % 4).as("k"), col("id").as("v")))
    assert(g.publishTable("boot_b", incremental = true) == 0L)
    g.delete("boot_b", col("v") >= 400)
    assert(g.publishTable("boot_b", incremental = true) == 1L)
    // "cold JVM": drop every local registration (checkpoints/epochs
    // survive on disk; dropTable never deletes durable artifacts)
    g.dropTable("boot_a"); g.dropTable("boot_b")
    assert(!g.isManaged("boot_a") && GraftColumnStore.get("boot_b").isEmpty)
    // ONE call; no table named anywhere
    val acts = g.sql("BOOTSTRAP CATALOG FROM boot_ds1").collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(acts("boot_a") == (("checkpoint", -1L, "restored")), acts.toString)
    assert(acts("boot_b") == (("epoch", 1L, "restored")), acts.toString)
    assert(g.table("boot_a").count() == 1000)
    assert(g.table("boot_b").count() == 400, "newest epoch's content serves")
    // layout rode the manifests: the restored tables are bucketed stores
    assert(GraftColumnStore("boot_a").snapshot.numBuckets == 4)
    // recovered tables are OWNED: writable, and the epoch table keeps
    // publishing under the same root (numbering continues)
    import spark.implicits._
    g.insert("boot_b", Seq((1L, 9999L)).toDF("k", "v"))
    assert(g.publishTable("boot_b", incremental = true) == 2L)
    // conflict rule: a second bootstrap must not replace live state
    val again = g.sql("BOOTSTRAP CATALOG FROM boot_ds1").collect()
      .map(_.getString(4)).toSet
    assert(again == Set("skipped_exists"), again.toString)
    assert(g.table("boot_b").count() == 401, "skip means untouched")
    g.dropTable("boot_a"); g.dropTable("boot_b")
    Diskstores.drop("boot_ds1", ifExists = false)
  }

  test("when a table has BOTH a checkpoint and newer epochs, the newest artifact wins") {
    val dir = tempDir("boot_both").toString
    g.sql(s"CREATE DISKSTORE boot_ds2 ('$dir')")
    g.sql("CREATE TABLE boot_c (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4', diskstore 'boot_ds2')")
    g.insert("boot_c", spark.range(100)
      .select((col("id") % 4).as("k"), col("id").as("v")))
    g.checkpointTable("boot_c")
    Thread.sleep(1100) // local-fs mtime granularity can be 1 s
    g.insert("boot_c", spark.range(100, 150)
      .select((col("id") % 4).as("k"), col("id").as("v")))
    assert(g.publishTable("boot_c") == 0L) // same root as the checkpoint
    g.dropTable("boot_c")
    val acts = g.bootstrap(Some("boot_ds2")).collect()
      .filter(_.getString(0) == "boot_c")
      .map(r => (r.getString(2), r.getLong(3), r.getString(4)))
    assert(acts.toSeq == Seq(("epoch", 0L, "restored")), acts.mkString)
    assert(g.table("boot_c").count() == 150,
      "the epoch (newer than the checkpoint) must serve")
    g.dropTable("boot_c")
    Diskstores.drop("boot_ds2", ifExists = false)
  }

  test("a row table's constraints ride bootstrap recovery") {
    val dir = tempDir("boot_row").toString
    g.sql(s"CREATE DISKSTORE boot_ds3 ('$dir')")
    g.sql("CREATE TABLE boot_r (pk bigint primary key, s string not null) " +
      "USING row OPTIONS (diskstore 'boot_ds3')")
    import spark.implicits._
    g.insert("boot_r", (1L to 50L).map(i => (i, s"s$i")).toDF("pk", "s"))
    g.checkpointTable("boot_r")
    g.dropTable("boot_r")
    assert(g.bootstrap(Some("boot_ds3")).collect()
      .exists(r => r.getString(0) == "boot_r" && r.getString(4) == "restored"))
    assert(g.table("boot_r").count() == 50)
    intercept[Exception](
      g.insert("boot_r", Seq((51L, null: String)).toDF("pk", "s")))
    g.dropTable("boot_r")
    Diskstores.drop("boot_ds3", ifExists = false)
  }

  test("a matview's identity rides epoch publishes through bootstrap recovery") {
    import org.apache.spark.sql.graft.store.MatViews
    val dir = tempDir("boot_mv").toString
    g.sql(s"CREATE DISKSTORE boot_ds5 ('$dir')")
    g.sql("CREATE TABLE boot_mb (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4', diskstore 'boot_ds5')")
    g.insert("boot_mb", spark.range(300)
      .select((col("id") % 6).as("k"), col("id").as("v")))
    g.sql("CREATE MATERIALIZED VIEW boot_mv AS " +
      "SELECT k, sum(v) AS sv, count(*) AS n FROM boot_mb GROUP BY k")
    // publish BOTH through the epoch face (the backing table is a store
    // table like any other; bind the view to the same diskstore root)
    g.publishTable("boot_mb", incremental = true)
    org.apache.spark.sql.graft.store.Diskstores.bind("boot_mv", "boot_ds5")
    g.publishTable("boot_mv", incremental = true)
    // cold JVM: every local registration gone, only epochs on disk
    g.dropTable("boot_mb") // cascades boot_mv
    assert(!MatViews.isMatView("boot_mv"))
    val acts = g.sql("BOOTSTRAP CATALOG FROM boot_ds5").collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    assert(acts == Map("boot_mb" -> "restored", "boot_mv" -> "restored"), acts.toString)
    // recovered as a MATVIEW: registered, stale, write-guarded
    assert(MatViews.isMatView("boot_mv"), "epoch recovery must keep matview identity")
    assert(!spark.sql("SELECT is_fresh FROM sys.matviews WHERE name = 'boot_mv'")
      .head().getBoolean(0), "recovered view must register stale")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM boot_mb GROUP BY k"
    assert(!Plans.scansStoreTable(spark.sql(q), "boot_mv"),
      "a stale recovered view must not serve")
    import spark.implicits._
    val guard = intercept[Exception](
      g.insert("boot_mv", Seq((1L, 1L, 1L)).toDF("k", "__g0_sum", "__g1_cnt")))
    assert(guard.getMessage.contains("materialized view"))
    // REFRESH revives it against the recovered base's own payload ids
    assert(g.refreshMaterializedView("boot_mv") == "full")
    assert(Plans.scansStoreTable(spark.sql(q), "boot_mv"))
    val served = spark.sql(q).collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.graft.matviewRewrite", "false")
    val truth = try spark.sql(q).collect().map(_.toString).sorted.toSeq
    finally spark.conf.set("spark.sql.graft.matviewRewrite", "true")
    assert(served == truth)
    g.dropTable("boot_mb")
    Diskstores.drop("boot_ds5", ifExists = false)
  }

  test("bootstrapOnInit: re-registering a diskstore recovers its tables with zero further calls") {
    val dir = tempDir("boot_auto").toString
    g.sql(s"CREATE DISKSTORE boot_ds6 ('$dir')")
    g.sql("CREATE TABLE boot_auto (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4', diskstore 'boot_ds6')")
    g.insert("boot_auto", spark.range(250)
      .select((col("id") % 4).as("k"), col("id").as("v")))
    g.checkpointTable("boot_auto")
    // cold JVM: both the table AND the diskstore registration are gone
    g.dropTable("boot_auto")
    Diskstores.drop("boot_ds6", ifExists = false)
    spark.conf.set("spark.sql.graft.bootstrapOnInit", "true")
    try {
      // the ONLY call a restarted member makes — its diskstore config
      g.sql(s"CREATE DISKSTORE boot_ds6 ('$dir')")
      assert(g.isManaged("boot_auto"),
        "registering the diskstore must implicitly recover its tables")
      assert(g.table("boot_auto").count() == 250)
    } finally spark.conf.set("spark.sql.graft.bootstrapOnInit", "false")
    g.dropTable("boot_auto")
    Diskstores.drop("boot_ds6", ifExists = false)
  }

  test("bootstrap never clobbers a live JVM-GLOBAL name owned by another session") {
    import org.apache.spark.sql.graft.store.MatViews
    val dir = tempDir("boot_gbl").toString
    g.sql(s"CREATE DISKSTORE boot_ds7 ('$dir')")
    // a durable epoch artifact for the name exists on disk...
    g.sql("CREATE TABLE boot_x (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '2', diskstore 'boot_ds7')")
    g.insert("boot_x", spark.range(50).select((col("id") % 2).as("k"), col("id").as("v")))
    g.publishTable("boot_x", incremental = true)
    g.dropTable("boot_x") // local + store registration gone; epochs remain
    // ... and ANOTHER session now owns the name as a live matview
    // (store registries and MatViews are JVM-global; this session's
    // isManaged map knows nothing about it)
    val g2 = GraftSession(spark.newSession())
    g2.createTable("boot_xb", spark.range(40)
      .select((col("id") % 4).as("k"), col("id").as("v")))
    g2.sql("CREATE MATERIALIZED VIEW boot_x AS " +
      "SELECT k, sum(v) AS sv FROM boot_xb GROUP BY k")
    assert(MatViews.isFresh(MatViews.get("boot_x").get))
    // recovery must report skipped_exists and leave the live view intact
    val acts = g.sql("BOOTSTRAP CATALOG FROM boot_ds7").collect()
      .filter(_.getString(0) == "boot_x").map(_.getString(4)).toSeq
    assert(acts == Seq("skipped_exists"),
      s"a live JVM-global name must never be replaced by recovery: $acts")
    assert(MatViews.isMatView("boot_x"), "the other session's view survives")
    assert(MatViews.isFresh(MatViews.get("boot_x").get),
      "the view is untouched — still provably fresh, not clobbered stale")
    g2.dropTable("boot_xb") // cascades the view
    Diskstores.drop("boot_ds7", ifExists = false)
  }

  test("an attached replica under the name wins over bootstrap (deliberate attach is not replaced)") {
    val dir = tempDir("boot_rep").toString
    g.sql(s"CREATE DISKSTORE boot_ds4 ('$dir')")
    g.sql("CREATE TABLE boot_p (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4', diskstore 'boot_ds4')")
    g.insert("boot_p", spark.range(100)
      .select((col("id") % 4).as("k"), col("id").as("v")))
    val root = g.publishTable("boot_p", incremental = true)
    assert(root == 0L)
    g.dropTable("boot_p")
    // someone attached the published epochs as a VIEW under the same name
    val epochRoot = java.nio.file.Paths.get(dir, "boot_p").toString
    assert(LiveCheckpoint.committedEpochs(spark, epochRoot) == Seq(0L))
    g.attachView("boot_p", epochRoot)
    val acts = g.bootstrap(Some("boot_ds4")).collect().filter(_.getString(0) == "boot_p")
    assert(acts.map(_.getString(4)).toSeq == Seq("skipped_exists"),
      "a replica attach must not be silently replaced by recovery")
    g.dropTable("boot_p")
    Diskstores.drop("boot_ds4", ifExists = false)
  }
}
