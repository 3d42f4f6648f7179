package graft.tools

import graft.GraftConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowOps, GraftRowStore, GraftStoreOps}

/** Cross-JVM persistence proof (the reference's PERSISTENCE/DISKSTORE
  * recovery story, SURVEY §2.1): `write` builds bucketed column + keyed
  * row tables with layout options, mutates them, and checkpoints both to
  * a directory; `read` — run in a SEPARATE JVM (fresh process, empty
  * registries) — restores and verifies content (deletes/updates
  * applied), the full layout (buckets, codec, sketch columns — the
  * restored sketch digests serve estimates), and PK point lookups; the
  * co-bucketed self-join's exchange count is printed as telemetry
  * (ColocationSpec owns the zero-exchange plan proof).
  * `tools/cross_jvm_restore.sh` drives both phases through two sbt
  * invocations and fails on any mismatch.
  */
object CrossJvmRestore {
  private val fmt = GraftStoreOps.FORMAT

  def main(args: Array[String]): Unit = {
    val Array(mode, dir) = args
    val spark = GraftConf.session("graft-cross-jvm-restore", 4)
    spark.sparkContext.setLogLevel("ERROR")
    mode match {
      case "write" => write(spark, dir)
      case "read" => read(spark, dir)
      case "write_boot" => writeBoot(spark, dir)
      case "boot" => boot(spark, dir)
      case other => sys.error(s"unknown mode $other (write|read|write_boot|boot)")
    }
    spark.stop()
  }

  /** Phase 3a: JVM A persists three tables under ONE diskstore directory
    * using the diskstore-default layout (`<dir>/<table>`): a bucketed
    * column checkpoint, a constrained row checkpoint, and an
    * epoch-published table (two epochs, so bootstrap must pick the
    * newest). JVM B must recover ALL of them from a single BOOTSTRAP
    * CATALOG call — the reference's store-persisted-catalog behavior
    * (SnappyHiveExternalCatalog), where a restarted cluster knows every
    * table without being told their names.
    */
  private def writeBoot(spark: SparkSession, dir: String): Unit = {
    val g = graft.GraftSession(spark)
    import spark.implicits._
    g.sql(s"CREATE DISKSTORE xjds ('$dir')")
    g.sql("CREATE TABLE xb_col (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4', diskstore 'xjds')")
    g.insert("xb_col", spark.range(5000)
      .select((col("id") % 16).as("k"), (col("id") * 7).as("v")))
    g.delete("xb_col", col("v") < 70)
    g.checkpointTable("xb_col")
    g.sql("CREATE TABLE xb_row (pk bigint primary key, s string not null) " +
      "USING row OPTIONS (diskstore 'xjds')")
    g.insert("xb_row", (1L to 300L).map(i => (i, s"s$i")).toDF("pk", "s"))
    g.checkpointTable("xb_row")
    // published table: epoch 0, then a mutation and epoch 1 — bootstrap
    // must serve epoch 1's content
    g.sql("CREATE TABLE xb_pub (k bigint, v bigint) USING column " +
      "OPTIONS (partition_by 'k', buckets '4', diskstore 'xjds')")
    g.insert("xb_pub", spark.range(2000)
      .select((col("id") % 8).as("k"), col("id").as("v")))
    require(g.sql("PUBLISH TABLE xb_pub INCREMENTAL").head().getLong(0) == 0L)
    g.delete("xb_pub", col("v") >= 1500)
    require(g.sql("PUBLISH TABLE xb_pub INCREMENTAL").head().getLong(0) == 1L)
    println(s"XB_WRITE_OK col=${g.table("xb_col").count()} " +
      s"row=${g.table("xb_row").count()} pub=${g.table("xb_pub").count()}")
  }

  /** Phase 3b (fresh JVM): register the diskstore, run ONE bootstrap,
    * and verify every persisted table is visible and correct — no table
    * is named anywhere in the recovery.
    */
  private def boot(spark: SparkSession, dir: String): Unit = {
    require(GraftColumnStore.get("xb_col").isEmpty &&
      GraftRowStore.get("xb_row").isEmpty,
      "fresh JVM expected: registries must start empty")
    val g = graft.GraftSession(spark)
    g.sql(s"CREATE DISKSTORE xjds ('$dir')")
    val acts = g.sql("BOOTSTRAP CATALOG").collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getLong(3), r.getString(4)))
      .toMap
    require(acts.keySet == Set("xb_col", "xb_row", "xb_pub"),
      s"bootstrap must discover all three tables, got ${acts.keySet}")
    require(acts("xb_col") == (("checkpoint", -1L, "restored")), s"${acts("xb_col")}")
    require(acts("xb_row") == (("checkpoint", -1L, "restored")), s"${acts("xb_row")}")
    require(acts("xb_pub") == (("epoch", 1L, "restored")), s"${acts("xb_pub")}")
    // SHOW TABLES surfaces every recovered name (temp-view registration)
    val shown = spark.sql("SHOW TABLES").collect().map(_.getString(1)).toSet
    require(Set("xb_col", "xb_row", "xb_pub").subsetOf(shown), shown.toString)
    require(g.table("xb_col").count() == 4990, "column deletes recovered")
    require(g.table("xb_row").count() == 300, "row table recovered")
    require(g.table("xb_pub").count() == 1500, "newest epoch served")
    // recovered constraints still enforce (NOT NULL rode the sidecar)
    import spark.implicits._
    val nn = try {
      g.insert("xb_row", Seq((301L, null: String)).toDF("pk", "s")); false
    } catch { case _: Exception => true }
    require(nn, "recovered NOT NULL must enforce")
    // the epoch table came back OWNED: publisher recovery continues the
    // epoch numbering under the same root (not a read replica)
    require(g.sql("PUBLISH TABLE xb_pub INCREMENTAL").head().getLong(0) == 2L)
    // idempotence: a second bootstrap skips everything (existing wins)
    val again = g.sql("BOOTSTRAP CATALOG").collect().map(_.getString(4)).toSet
    require(again == Set("skipped_exists"), again.toString)
    println("XB_BOOT_OK tables=" +
      acts.keys.toSeq.sorted.mkString(","))
  }

  private def write(spark: SparkSession, dir: String): Unit = {
    spark.range(10000)
      .select((col("id") % 64).as("k"), col("id").as("v"),
        concat(lit("row_"), col("id")).as("s"))
      .write.format(fmt).option("table", "xj_col")
      .option("partition_by", "k").option("buckets", "8")
      .option("batch_size", "1024")
      .option("compression", "lz4")
      .option("sketch_columns", "k")
      .mode("overwrite").save()
    // mutate so the checkpoint carries delete/update effects, not just
    // the pristine write
    GraftStoreOps.delete(spark, "xj_col", col("v") < 100)
    GraftStoreOps.update(spark, "xj_col", col("v") >= 9900,
      Seq("s" -> lit("updated")))
    GraftStoreOps.checkpoint(spark, "xj_col", s"$dir/col")

    spark.range(2000)
      .select(col("id").as("pk"), (col("id") * 3).as("val"))
      .write.format(GraftRowOps.FORMAT).option("table", "xj_row")
      .option("key_columns", "pk").mode("overwrite").save()
    GraftRowOps.checkpoint(spark, "xj_row", s"$dir/row")

    // constrained row tables: the constraint set (incl. the identity
    // high-water mark) rides the checkpoint sidecar — JVM B must still
    // enforce and must CONTINUE the sequence, not restart it
    val g = graft.GraftSession(spark)
    import spark.implicits._
    g.sql("CREATE TABLE xj_par (pid int primary key, pname string) USING row")
    g.insert("xj_par", Seq((1, "a"), (2, "b")).toDF("pid", "pname"))
    g.sql("CREATE TABLE xj_con (id bigint generated by default as identity " +
      "(start with 500, increment by 5), v string not null, " +
      "email string unique, pid int, " +
      "constraint fk_par foreign key (pid) references xj_par (pid), " +
      "primary key (id)) USING row")
    g.insert("xj_con",
      Seq(("r1", "a@x", 1), ("r2", "b@x", 2), ("r3", "c@x", 1))
        .toDF("v", "email", "pid")) // ids 500, 505, 510
    g.checkpointTable("xj_par", s"$dir/par")
    g.checkpointTable("xj_con", s"$dir/con")
    println(s"XJ_WRITE_OK rows_col=${GraftColumnStore("xj_col").snapshot.rowCount} " +
      s"rows_row=${GraftRowStore("xj_row").snapshot.rowCount} " +
      s"rows_con=${GraftRowStore("xj_con").snapshot.rowCount}")
  }

  private def read(spark: SparkSession, dir: String): Unit = {
    require(GraftColumnStore.get("xj_col").isEmpty,
      "fresh JVM expected: column registry must start empty")
    val colDf = GraftStoreOps.restore(spark, "xj_col", s"$dir/col")
    val n = colDf.count()
    require(n == 9900, s"column rows after restore: $n (want 9900, deletes applied)")
    val upd = colDf.filter(col("s") === "updated").count()
    require(upd == 100, s"updated rows after restore: $upd (want 100)")
    val snap = GraftColumnStore("xj_col").snapshot
    require(snap.numBuckets == 8 && snap.bucketBy == Seq("k"),
      s"bucket layout lost: ${snap.numBuckets}/${snap.bucketBy}")
    require(snap.compression == "lz4", s"codec lost: ${snap.compression}")
    require(snap.sketchBy == Seq("k"), s"sketch layout lost: ${snap.sketchBy}")
    val est = GraftStoreOps.approxDistinct(spark, "xj_col", "k")
    require(math.abs(est - 64) <= 4, s"restored sketch estimate: $est (want ~64)")
    // the restored table still joins exchange-free with a co-bucketed
    // catalog read of itself (bucket function + count survived)
    val a = spark.table("graft.xj_col").groupBy("k").agg(sum("v").as("sa"))
    val b = spark.table("graft.xj_col").groupBy("k").agg(count(lit(1)).as("nb"))
    val joined = a.join(b, "k")
    val exchanges = joined.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    require(joined.count() == 64, "join row count")

    val rowDf = GraftRowOps.restore(spark, "xj_row", s"$dir/row")
    require(rowDf.count() == 2000, "row-table rows after restore")
    require(rowDf.filter(col("pk") === 1234).head().getLong(1) == 3702,
      "point lookup after restore")

    // constrained table: enforcement + identity continuation in JVM B
    import org.apache.spark.sql.graft.Constraints
    require(Constraints.get("xj_con").isEmpty,
      "fresh JVM expected: constraint registry must start empty")
    val g = graft.GraftSession(spark)
    import spark.implicits._
    g.restoreTable("xj_par", s"$dir/par")
    g.restoreTable("xj_con", s"$dir/con")
    // sequence CONTINUES at 515 (high-water mark = 3 ordinals consumed)
    g.insert("xj_con", Seq(("r4", "d@x", 2)).toDF("v", "email", "pid"))
    val ids = g.table("xj_con").select("id").collect().map(_.getLong(0)).sorted.toSeq
    require(ids == Seq(500L, 505L, 510L, 515L),
      s"identity must continue after restore, got $ids")
    // every constraint class still enforces in the fresh JVM
    def mustThrow(what: String)(body: => Any): Unit = {
      val ok = try { body; false } catch { case _: Exception => true }
      require(ok, s"restored constraint did not enforce: $what")
    }
    mustThrow("NOT NULL")(g.insert("xj_con",
      Seq(Tuple2("e@x", 1)).toDF("email", "pid")
        .select(lit(null).cast("string").as("v"), col("email"), col("pid"))))
    mustThrow("UNIQUE")(g.insert("xj_con",
      Seq(("r5", "a@x", 1)).toDF("v", "email", "pid")))
    mustThrow("FK orphan")(g.insert("xj_con",
      Seq(("r6", "f@x", 99)).toDF("v", "email", "pid")))
    mustThrow("parent RESTRICT")(g.delete("xj_par", col("pid") === 1))
    println(s"XJ_READ_OK exchanges=$exchanges con_ids=${ids.mkString(",")}")
  }
}
