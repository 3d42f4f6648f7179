package graft.tools

import graft.GraftConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftStoreOps, LiveCheckpoint}

/** Two-process LIVE store proof (the reference's connector-mode serving:
  * store members keep ingesting while connector JVMs serve reads,
  * `cluster/.../gemxd/SparkSQLExecuteImpl.scala:63`,
  * docs/affinity_modes/connector_mode.md). `ingest` (JVM A) runs a live
  * write loop — micro-appends that trigger the roll-up, deletes,
  * updates — and publishes a committed epoch to the shared diskstore
  * root after each cycle. `serve` (JVM B, a SEPARATE concurrent process)
  * polls the root, attaches READ-ONLY to each new committed epoch
  * (fingerprint-verified: a torn snapshot aborts the attach), and
  * answers a grouped query from its restored store table, dumping each
  * answer as parquet for the driver-side DuckDB oracle to hash-check
  * against that epoch's published data. `tools/live_store_serve.sh` runs
  * both JVMs concurrently and performs the oracle compare.
  */
object LiveStoreServe {
  private val fmt = GraftStoreOps.FORMAT
  private val TABLE = "live_t"
  private val SERVED = "live_served"
  private val VIEW_SERVED = "live_view_served"
  private val ROW_TABLE = "live_r"
  private val ROW_SERVED = "live_r_served"

  def main(args: Array[String]): Unit = {
    val spark = GraftConf.session("graft-live-store-serve", 4)
    spark.sparkContext.setLogLevel("ERROR")
    args.toList match {
      case "ingest" :: root :: epochs :: Nil => ingest(spark, root, epochs.toInt)
      case "serve" :: root :: out :: minEpochs :: Nil =>
        serve(spark, root, out, minEpochs.toInt)
      case other => sys.error(s"usage: ingest <root> <epochs> | " +
        s"serve <root> <outDir> <minEpochs>; got $other")
    }
    spark.stop()
  }

  /** JVM A: live ingest loop. Each cycle micro-appends (small seals →
    * the table's rollup_threshold commit trigger merges them mid-loop), deletes
    * and updates committed rows, then publishes the snapshot as the next
    * epoch. The sleep gives the concurrent reader time to observe
    * intermediate epochs — a real ingest pipeline publishes on a cadence
    * too.
    */
  private def ingest(spark: SparkSession, root: String, epochs: Int): Unit = {
    spark.range(0, 0)
      .select(col("id").as("k"), col("id").as("v"), lit("").as("s"))
      .write.format(fmt).option("table", TABLE)
      .option("partition_by", "k").option("buckets", "4")
      .option("batch_size", "4096").option("rollup_threshold", "4")
      .mode("overwrite").save()
    (0 until epochs).foreach { e =>
      val base = e * 500
      // micro-appends: 5 × 100 rows, each a small seal
      (0 until 5).foreach { i =>
        spark.range(base + i * 100, base + (i + 1) * 100)
          .select((col("id") % 16).as("k"), (col("id") * 2).as("v"),
            concat(lit("doc_"), col("id")).as("s"))
          .write.format(fmt).option("table", TABLE).mode("append").save()
      }
      if (e >= 1) {
        // DML against rows earlier epochs already published: the next
        // epoch's readers must see the post-mutation content
        GraftStoreOps.delete(spark, TABLE, col("v") === (base - 100) * 2L)
        GraftStoreOps.update(spark, TABLE, col("v") === (base - 200) * 2L,
          Seq("s" -> lit(s"updated_in_epoch_$e")))
      }
      // the column arm publishes INCREMENTALLY: each epoch re-dumps only
      // the seals this cycle's appends/DML touched and references the
      // rest — the O(delta) shape a minutes-cadence publisher needs at
      // 100 TB. The shell oracle reads each epoch's payload manifest.
      val n = LiveCheckpoint.publish(spark, TABLE, root, keep = 4,
        incremental = true)
      // row-table arm, published through the SESSION face: a keyed row
      // table upserted each cycle serves alongside the column table
      val g = graft.GraftSession(spark)
      if (e == 0) {
        import spark.implicits._
        g.createTable(ROW_TABLE,
          Seq.empty[(Long, Long)].toDF("pk", "val"),
          keyColumns = Seq("pk"), provider = "row")
      }
      g.putInto(ROW_TABLE, spark.range(e * 50, (e + 1) * 50 + 20)
        .select(col("id").as("pk"), (col("id") * 7 + e).as("val")))
      val nr = g.publishTable(ROW_TABLE, s"$root-row")
      require(nr == n, s"row/column epoch cadence diverged: $nr vs $n")
      val rows = org.apache.spark.sql.graft.store.GraftColumnStore(TABLE)
        .snapshot.rowCount
      println(s"XJ_LIVE_PUBLISH epoch=$n rows=$rows")
      Thread.sleep(1500)
    }
    println(s"XJ_LIVE_WRITE_OK epochs=$epochs")
  }

  /** JVM B: poll for committed epochs; attach each new one read-only
    * (the attach itself proves the snapshot untorn via the published
    * fingerprint) and answer a grouped query FROM THE RESTORED STORE
    * TABLE, dumped as parquet for the DuckDB oracle.
    */
  private def serve(spark: SparkSession, root: String, out: String,
      minEpochs: Int): Unit = {
    val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
    var served = Vector.empty[Long]
    var lastSeen = -1L
    while (served.size < minEpochs) {
      require(System.nanoTime() < deadline,
        s"timed out after serving ${served.size}/$minEpochs epochs")
      LiveCheckpoint.latestEpoch(spark, root) match {
        case Some(e) if e > lastSeen =>
          lastSeen = e
          LiveCheckpoint.attach(spark, SERVED, root, e) // throws on torn
          val ans = GraftStoreOps.read(spark, SERVED)
            .groupBy(col("k"))
            .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
              count(when(col("s").startsWith("updated"), 1)).as("upd"))
            .orderBy(col("k"))
          ans.write.mode("overwrite").parquet(f"$out/answer_$e%08d")
          println(s"XJ_LIVE_SERVE epoch=$e rows=${ans.count()}")
          // zero-copy arm: the SAME epoch served through attachView (no
          // store restore — a lazy frame over the epoch's payload
          // parquet, fingerprint-verified). Its answer must match the
          // restored-copy answer byte-for-byte; the shell oracle checks
          // both against DuckDB.
          locally {
            val g = graft.GraftSession(spark)
            val ve = g.attachView(VIEW_SERVED, root, Some(e), verify = true)
            val vans = g.table(VIEW_SERVED)
              .groupBy(col("k"))
              .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
                count(when(col("s").startsWith("updated"), 1)).as("upd"))
              .orderBy(col("k"))
            vans.write.mode("overwrite").parquet(f"$out/answer_view_$ve%08d")
            println(s"XJ_LIVE_SERVE_VIEW epoch=$ve")
          }
          // row-table arm through the session face: the publisher
          // commits the row epoch right AFTER the column one, so it may
          // lag a beat — serve whatever row epoch is committed now
          if (LiveCheckpoint.latestEpoch(spark, s"$root-row").isDefined) {
            val g = graft.GraftSession(spark)
            val re = g.attachTable(ROW_SERVED, s"$root-row")
            val rans = g.table(ROW_SERVED)
              .agg(count(lit(1)).as("n"), sum(col("val")).cast("long").as("sv"))
            rans.write.mode("overwrite").parquet(f"$out/answer_row_$re%08d")
            println(s"XJ_LIVE_SERVE_ROW epoch=$re")
          }
          served :+= e
        case _ => Thread.sleep(250)
      }
    }
    require(served == served.sorted && served.distinct == served,
      s"epochs must advance monotonically, got $served")
    println(s"XJ_LIVE_READ_OK epochs=${served.mkString(",")}")
  }
}
