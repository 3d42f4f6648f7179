package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowOps, GraftRowStore, GraftStoreOps}

/** The ALTER TABLE surface: atomic layout-preserving rewrites (ADD /
  * DROP / RENAME COLUMN, ALTER COLUMN TYPE) where a failure leaves the
  * table untouched and layout metadata follows renamed columns, the
  * ALTER privilege gate, session-view re-resolution, and the
  * metadata-only SET/UNSET TBLPROPERTIES tunables.
  */
class AlterTableSpec extends SparkTestBase {
  private val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
  private val rowFmt = "org.apache.spark.sql.graft.store.GraftRowSource"

  test("ALTER TABLE: unsupported shapes rejected, failures leave the table intact") {
    spark.range(100)
      .select((col("id") % 4).as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "alt_atomic")
      .option("partition_by", "k").option("buckets", "2")
      .mode("overwrite").save()
    // constraints the rewrite cannot honor are rejected, not dropped
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE graft.alt_atomic ADD COLUMNS (x DOUBLE NOT NULL)"))
    assert(e1.getMessage.contains("NOT NULL"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.alt_atomic ADD COLUMNS (x DOUBLE FIRST)"))
    assert(e2.getMessage.contains("position"), e2.getMessage)
    // a failing ALTER (dropping the bucket column) must leave the table
    // exactly as it was — the rewrite validates before any mutation
    intercept[Exception](
      spark.sql("ALTER TABLE graft.alt_atomic DROP COLUMN k"))
    val snap = GraftColumnStore("alt_atomic").snapshot
    assert(snap.schema.fieldNames.toSeq == Seq("k", "v"), "schema mutated by failed ALTER")
    assert(spark.table("graft.alt_atomic").count() == 100,
      "data lost by failed ALTER")
  }

  test("ALTER is privileged: a non-owner with SELECT cannot rewrite the table") {
    import org.apache.spark.sql.graft.{GrantRegistry, PolicyRegistry}
    val g = GraftSession(spark)
    try {
      g.setCurrentUser("owner_a")
      g.createTable("gr_alt",
        spark.range(10).select(col("id").as("a"), col("id").as("b")))
      GrantRegistry.grant("gr_alt", Seq("alice"), Seq("SELECT"), "owner_a")
      g.setCurrentUser("alice")
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        GraftStoreOps.alterRewrite(spark, "gr_alt", _.drop("b"))
      }
      assert(e.getMessage.contains("lacks ALTER"), e.getMessage)
      // table untouched, and the owner can still run the same rewrite
      g.setCurrentUser("owner_a")
      GraftStoreOps.alterRewrite(spark, "gr_alt", _.drop("b"))
      assert(GraftColumnStore("gr_alt").snapshot.schema.fieldNames.toSeq == Seq("a"))
    } finally {
      g.setCurrentUser("default")
      GrantRegistry.clear()
      PolicyRegistry.clear()
      g.dropTable("gr_alt")
    }
  }

  test("catalog ALTER re-resolves a session-managed view to the new schema") {
    val g = GraftSession(spark)
    try {
      g.createTable("sess_alt",
        spark.range(50).select((col("id") % 5).as("k"), col("id").as("v")))
      spark.sql("ALTER TABLE graft.sess_alt ADD COLUMNS (note STRING)")
      // without refreshManaged the session's temp view keeps planning the
      // pre-ALTER relation and this projection fails to resolve
      val r = spark.sql("SELECT count(*) AS n, count(note) AS nn FROM sess_alt").head()
      assert(r.getLong(0) == 50 && r.getLong(1) == 0)
      assert(g.table("sess_alt").columns.toSeq == Seq("k", "v", "note"))
    } finally g.dropTable("sess_alt")
  }

  test("RENAME COLUMN: key/bucket/sketch metadata follows the renamed column") {
    spark.range(1000)
      .select((col("id") % 8).as("k"), (col("id") % 120).as("s"), col("id").as("v"))
      .write.format(fmt).option("table", "alt_ren")
      .option("partition_by", "k").option("buckets", "4")
      .option("key_columns", "k,v")
      .option("sketch_columns", "s")
      .mode("overwrite").save()
    spark.sql("ALTER TABLE graft.alt_ren RENAME COLUMN k TO grp")
    spark.sql("ALTER TABLE graft.alt_ren RENAME COLUMN s TO score")
    val snap = GraftColumnStore("alt_ren").snapshot
    assert(snap.schema.fieldNames.toSeq == Seq("grp", "score", "v"))
    assert(snap.bucketBy == Seq("grp") && snap.numBuckets == 4,
      s"bucketing did not follow the rename: ${snap.bucketBy}")
    assert(snap.keyColumns == Seq("grp", "v"),
      s"keys did not follow the rename: ${snap.keyColumns}")
    assert(snap.sketchBy == Seq("score"),
      s"sketch set did not follow the rename: ${snap.sketchBy}")
    // the renamed sketch still serves, the data survived, and a
    // bucket-key aggregation still sees a bucketed table
    val est = GraftStoreOps.approxDistinct(spark, "alt_ren", "score")
    assert(math.abs(est - 120) <= 6, s"estimate after rename: $est")
    assert(spark.table("graft.alt_ren").groupBy("grp").count().count() == 8)
    // rename onto an existing name refuses (Spark's analyzer catches it
    // before the catalog; the rewrite's own require is defense-in-depth
    // for direct catalog calls) and leaves the table intact
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.alt_ren RENAME COLUMN grp TO v"))
    assert(e.getMessage.contains("already exists") ||
      e.getMessage.contains("target column exists"), e.getMessage)
    assert(GraftColumnStore("alt_ren").snapshot.schema.fieldNames.toSeq ==
      Seq("grp", "score", "v"))
  }

  test("ALTER COLUMN TYPE: widening cast rewrites; an unrepresentable cast aborts cleanly") {
    spark.range(200)
      .select(col("id").cast("int").as("a"), concat(lit("x"), col("id")).as("t"))
      .write.format(fmt).option("table", "alt_cast").mode("overwrite").save()
    spark.sql("ALTER TABLE graft.alt_cast ALTER COLUMN a TYPE BIGINT")
    val snap = GraftColumnStore("alt_cast").snapshot
    assert(snap.schema("a").dataType == org.apache.spark.sql.types.LongType)
    assert(spark.table("graft.alt_cast").agg(sum("a")).head().getLong(0) == 19900)
    // ANSI cast of non-numeric strings fails the rewrite JOB — before
    // the commit, so the table keeps its old schema and data
    intercept[Exception](
      spark.sql("ALTER TABLE graft.alt_cast ALTER COLUMN t TYPE INT"))
    val after = GraftColumnStore("alt_cast").snapshot
    assert(after.schema("t").dataType == org.apache.spark.sql.types.StringType)
    assert(spark.table("graft.alt_cast").count() == 200)
  }

  test("SET/UNSET TBLPROPERTIES: live retention/eviction/codec tuning without a rewrite") {
    spark.range(5000)
      .select((col("id") % 50).as("k"), col("id").as("v"))
      .write.format(fmt).option("table", "alt_props")
      .option("batch_size", "512").mode("overwrite").save()
    val refsBefore = GraftColumnStore("alt_props").snapshot.refs.map(_.id)
    spark.sql("ALTER TABLE graft.alt_props SET TBLPROPERTIES (" +
      "'expire_seconds'='3600', 'compression'='lz4', 'sketch_columns'='k')")
    val snap = GraftColumnStore("alt_props").snapshot
    assert(snap.expireSeconds == 3600L && snap.compression == "lz4" &&
      snap.sketchBy == Seq("k"))
    // metadata-only: the sealed batches were NOT rewritten
    assert(snap.refs.map(_.id) == refsBefore, "property change rewrote data")
    // late-enabled sketches follow the enable-on-append contract
    val e = intercept[IllegalStateException](
      GraftStoreOps.approxDistinct(spark, "alt_props", "k"))
    assert(e.getMessage.contains("compact"))
    GraftStoreOps.compact(spark, "alt_props")
    assert(math.abs(GraftStoreOps.approxDistinct(spark, "alt_props", "k") - 50) <= 3)
    // a budget change enforces IMMEDIATELY: everything overflows to disk
    spark.sql("ALTER TABLE graft.alt_props SET TBLPROPERTIES ('eviction_budget_bytes'='1')")
    assert(GraftColumnStore("alt_props").snapshot.residentBytes == 0L,
      "budget change did not enforce eviction")
    assert(spark.table("graft.alt_props").count() == 5000)
    // UNSET resets to defaults
    spark.sql("ALTER TABLE graft.alt_props UNSET TBLPROPERTIES " +
      "('expire_seconds', 'eviction_budget_bytes')")
    val reset = GraftColumnStore("alt_props").snapshot
    assert(reset.expireSeconds == 0L && reset.evictionBudget == 0L)
    // unknown keys are rejected loudly, not recorded
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.alt_props SET TBLPROPERTIES ('nope'='1')"))
    assert(e2.getMessage.contains("not a live-tunable"), e2.getMessage)
  }

  test("row tables: RENAME of a key column keeps PK ops working; index follows rename") {
    spark.range(300)
      .select(col("id").as("pk"), (col("id") % 30).as("r"), col("id").as("v"))
      .write.format(rowFmt).option("table", "alt_row")
      .option("key_columns", "pk")
      .mode("overwrite").save()
    GraftRowOps.createIndex(spark, "alt_row", "r")
    spark.sql("ALTER TABLE graft.alt_row RENAME COLUMN pk TO id2")
    spark.sql("ALTER TABLE graft.alt_row RENAME COLUMN r TO rng")
    val snap = GraftRowStore("alt_row").snapshot
    assert(snap.keyColumns == Seq("id2"), s"row keys: ${snap.keyColumns}")
    assert(snap.indexes.keySet == Set("rng"),
      s"secondary index did not follow the rename: ${snap.indexes.keySet}")
    // PK upsert through the NEW key name
    import spark.implicits._
    GraftRowOps.put(spark, "alt_row",
      Seq((7L, 7L, 7000L)).toDF("id2", "rng", "v"))
    val got = spark.read.format(rowFmt).option("table", "alt_row").load()
      .filter(col("id2") === 7).select("v").head().getLong(0)
    assert(got == 7000L, s"post-rename upsert read back $got")
    assert(spark.read.format(rowFmt).option("table", "alt_row").load().count() == 300)
    // row tables reject column-only tunables but accept retention
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.alt_row SET TBLPROPERTIES ('compression'='lz4')"))
    assert(e.getMessage.contains("column tables"), e.getMessage)
    spark.sql("ALTER TABLE graft.alt_row SET TBLPROPERTIES ('expire_seconds'='7200')")
    assert(GraftRowStore("alt_row").snapshot.expireSeconds == 7200L)
  }

  test("REBUCKET re-aligns a mismatched join partner into a zero-exchange colocated join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val g = GraftSession(spark)
    g.createTable("rb_a",
      spark.range(4000).select((col("id") % 500).as("k"), col("id").as("va")),
      partitionBy = Seq("k"), buckets = 4, compression = "lz4")
    g.createTable("rb_b",
      spark.range(4000).select((col("id") % 500).as("k"), col("id").as("vb")),
      partitionBy = Seq("k"), buckets = 8)
    def inputShuffles(): Int = {
      val j = spark.table("graft.rb_a").join(spark.table("graft.rb_b"), "k")
        .groupBy("k").agg(sum("va").as("sa"), sum("vb").as("sb"))
      j.collect()
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(j.queryExecution.executedPlan) {
          case s: ShuffleExchangeExec => s
        }.size
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      // mismatched bucket counts (4 vs 8) forfeit storage partitioning
      // ENTIRELY (PERF_NOTES §18): both join inputs shuffle
      assert(inputShuffles() >= 2, "expected shuffled join on mismatched buckets")
      spark.sql("ALTER TABLE rb_a REBUCKET 8")
      val snap = GraftColumnStore("rb_a").snapshot
      assert(snap.numBuckets == 8 && snap.bucketBy == Seq("k"))
      assert(snap.compression == "lz4", "codec lost by REBUCKET")
      // aligned: the join plans exchange-free on both inputs (the only
      // shuffle, if any, is the post-join aggregation's — and grouping
      // on the bucket key reuses the join's partitioning, so zero)
      assert(inputShuffles() == 0, "REBUCKET did not restore colocation")
      // data intact through the rewrite
      assert(spark.table("graft.rb_a").agg(sum("va")).head().getLong(0) ==
        4000L * 3999 / 2)
    } finally {
      spark.conf.set(key, old)
      g.dropTable("rb_a"); g.dropTable("rb_b")
    }
  }

  test("REBUCKET BY moves the bucket columns; row tables keep PK probes working") {
    // column store: change bucket COLUMNS, not just the count
    spark.range(900)
      .select((col("id") % 9).as("a"), (col("id") % 30).as("b"), col("id").as("v"))
      .write.format(fmt).option("table", "rb_cols")
      .option("partition_by", "a").option("buckets", "3")
      .mode("overwrite").save()
    GraftStoreOps.rebucket(spark, "rb_cols", 6, Seq("b"))
    val snap = GraftColumnStore("rb_cols").snapshot
    assert(snap.bucketBy == Seq("b") && snap.numBuckets == 6)
    assert(spark.table("graft.rb_cols").count() == 900)
    // misuse refuses loudly
    val e = intercept[IllegalArgumentException](
      GraftStoreOps.rebucket(spark, "rb_cols", 4, Seq("nope")))
    assert(e.getMessage.contains("no such column"), e.getMessage)
    // row store: rebucket a keyed table, the PK path must still route
    import spark.implicits._
    spark.range(500).select(col("id").as("pk"), col("id").as("v"))
      .write.format(rowFmt).option("table", "rb_row")
      .option("key_columns", "pk")
      .option("partition_by", "pk").option("buckets", "2")
      .mode("overwrite").save()
    GraftRowOps.rebucket(spark, "rb_row", 4)
    assert(GraftRowStore("rb_row").snapshot.numBuckets == 4)
    GraftRowOps.put(spark, "rb_row", Seq((123L, 9999L)).toDF("pk", "v"))
    val got = spark.read.format(rowFmt).option("table", "rb_row").load()
      .filter(col("pk") === 123).head().getLong(1)
    assert(got == 9999L, s"post-rebucket PK upsert read $got")
    assert(spark.read.format(rowFmt).option("table", "rb_row").load().count() == 500)
  }

  test("row tables: DROP of an indexed column clears its index; survivors rebuild") {
    spark.range(400)
      .select(col("id").as("pk"), (col("id") % 20).as("a"), (col("id") % 40).as("b"))
      .write.format(rowFmt).option("table", "alt_rowix")
      .option("key_columns", "pk").mode("overwrite").save()
    GraftRowOps.createIndex(spark, "alt_rowix", "a")
    GraftRowOps.createIndex(spark, "alt_rowix", "b")
    spark.sql("ALTER TABLE graft.alt_rowix DROP COLUMN a")
    val snap = GraftRowStore("alt_rowix").snapshot
    assert(snap.indexes.keySet == Set("b"),
      s"stale index survived the drop: ${snap.indexes.keySet}")
    // the surviving index was rebuilt over the FRESH packs (old stats
    // keyed retired pack ids and would never prune again)
    val newPackIds = snap.refs.map(_.id).toSet
    assert(snap.indexes("b").packRange.keys.forall(newPackIds.contains),
      "survivor index still keyed to retired packs")
    assert(spark.read.format(rowFmt).option("table", "alt_rowix").load()
      .filter(col("b") === 13).count() == 10)
  }

  test("an ALTER rewrite frees its checkpoint without a lineage-truncation WARN") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    spark.range(200).select(col("id").as("k"), (col("id") * 3).as("v"))
      .write.format(fmt).option("table", "alt_quiet")
      .option("partition_by", "k").option("buckets", "2").mode("overwrite").save()
    val warnings = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("alt-quiet", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
    }
    // RDDs the rewrite's stages cache: its local checkpoint. A marker
    // job afterwards is the barrier (the listener bus delivers in order)
    val cached = new ConcurrentLinkedQueue[Int]()
    val marker = s"alt-quiet-${java.util.UUID.randomUUID()}"
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        s.stageInfo.rddInfos.foreach(i => if (i.storageLevel.isValid) cached.add(i.id))
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.job.description") == marker) seen.countDown()
    }
    val sc = spark.sparkContext
    val rddLogger = LogManager.getLogger("org.apache.spark.rdd").asInstanceOf[Logger]
    appender.start()
    rddLogger.addAppender(appender)
    sc.addSparkListener(listener)
    try {
      spark.sql("ALTER TABLE graft.alt_quiet ADD COLUMNS (w DOUBLE)")
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, TimeUnit.SECONDS), "barrier job never reached the listener")
    } finally {
      sc.removeSparkListener(listener)
      rddLogger.removeAppender(appender)
      appender.stop()
    }
    assert(GraftColumnStore("alt_quiet").snapshot.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    val noisy = warnings.toArray.toSeq.filter(_.toString.contains("locally checkpointed"))
    assert(noisy.isEmpty, s"the rewrite warned: ${noisy.mkString("; ")}")
    assert(!cached.isEmpty, "the rewrite cached no checkpoint")
    val kept = cached.toArray.toSeq.map(_.asInstanceOf[Int])
      .filter(sc.getPersistentRDDs.contains)
    assert(kept.isEmpty, s"checkpoint RDDs still persisted: ${kept.mkString(",")}")
  }
}
