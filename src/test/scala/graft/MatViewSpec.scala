package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, MatViews}

/** Materialized views: transparent rewrite (exact groups, rollup to a
  * subset, filters on group columns, DISTINCT, global aggregates),
  * freshness gating (any base mutation disables the rewrite until
  * REFRESH), O(delta) incremental refresh vs full rebuild, the write
  * guard on the backing table, cascade semantics, and RLS safety.
  */
class MatViewSpec extends SparkTestBase {

  private lazy val g = GraftSession(spark)

  private def scannedTables(df: DataFrame): Set[String] = Plans.scannedTables(df)

  private def usesMatView(sql: String, mv: String): Boolean =
    Plans.scansStoreTable(spark.sql(sql), mv)

  /** Collect with the rewrite OFF — the base-scan ground truth. */
  private def direct(sql: String): Seq[String] = {
    spark.conf.set("spark.sql.graft.matviewRewrite", "false")
    try sorted(spark.sql(sql))
    finally spark.conf.set("spark.sql.graft.matviewRewrite", "true")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def freshBase(name: String, rows: Int = 1000): Unit = {
    val df = spark.range(rows).select(
      (col("id") % 7).cast("int").as("k"),
      concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"),
      (col("id") % 100).cast("double").as("d"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("nv"))
    g.createTable(name, df, partitionBy = Seq("k"), buckets = 4)
  }

  test("exact-group query rewrites to the matview and matches the base scan") {
    freshBase("mvb1")
    g.sql("CREATE MATERIALIZED VIEW mv1 AS " +
      "SELECT k, cat, sum(v) AS sv, count(v) AS cv, min(v) AS mnv, " +
      "max(v) AS mxv, avg(d) AS ad, count(*) AS n, sum(nv) AS snv, " +
      "count(nv) AS cnv FROM mvb1 GROUP BY k, cat")
    val q = "SELECT k, cat, sum(v) AS sv, count(v) AS cv, min(v) AS mnv, " +
      "max(v) AS mxv, avg(d) AS ad, count(*) AS n, sum(nv) AS snv, " +
      "count(nv) AS cnv FROM mvb1 GROUP BY k, cat"
    assert(usesMatView(q, "mv1"), "expected the rewrite to fire")
    assert(sorted(spark.sql(q)) == direct(q))
  }

  test("rollup to a subset of the view's group columns") {
    val q = "SELECT cat, sum(v) AS sv, avg(d) AS ad, count(*) AS n " +
      "FROM mvb1 GROUP BY cat"
    assert(usesMatView(q, "mv1"))
    assert(sorted(spark.sql(q)) == direct(q))
  }

  test("global aggregate (no GROUP BY) rolls all the way up") {
    val q = "SELECT sum(v) AS sv, count(*) AS n, min(v) AS mnv, avg(d) AS ad FROM mvb1"
    assert(usesMatView(q, "mv1"))
    assert(sorted(spark.sql(q)) == direct(q))
  }

  test("filter on a group column pushes onto the view") {
    val q = "SELECT k, sum(v) AS sv FROM mvb1 WHERE cat = 'c1' GROUP BY k"
    assert(usesMatView(q, "mv1"))
    assert(sorted(spark.sql(q)) == direct(q))
    // filter on a NON-group column must decline
    val q2 = "SELECT k, sum(v) AS sv FROM mvb1 WHERE v > 100 GROUP BY k"
    assert(!usesMatView(q2, "mv1"))
  }

  test("DISTINCT over group columns answers from the view") {
    val q = "SELECT DISTINCT k, cat FROM mvb1"
    assert(usesMatView(q, "mv1"))
    assert(sorted(spark.sql(q)) == direct(q))
  }

  test("unsupported aggregate declines (stddev not derivable)") {
    val q = "SELECT k, stddev(v) AS sd FROM mvb1 GROUP BY k"
    assert(!usesMatView(q, "mv1"))
  }

  test("any base mutation disables the rewrite until REFRESH; append path is incremental") {
    freshBase("mvb2", rows = 500)
    g.sql("CREATE MATERIALIZED VIEW mv2 AS " +
      "SELECT k, sum(v) AS sv, count(*) AS n, min(v) AS mn, max(v) AS mx, " +
      "avg(d) AS ad FROM mvb2 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n, min(v) AS mn, " +
      "max(v) AS mx, avg(d) AS ad FROM mvb2 GROUP BY k"
    assert(usesMatView(q, "mv2"))
    // append new rows, including a brand-new group
    g.insert("mvb2", spark.range(500, 620).select(
      (col("id") % 9).cast("int").as("k"), concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"), (col("id") % 100).cast("double").as("d"),
      col("id").as("nv")))
    assert(!usesMatView(q, "mv2"), "stale view must not serve")
    assert(sorted(spark.sql(q)) == direct(q), "stale period answers from base")
    val path = g.refreshMaterializedView("mv2")
    assert(path == "incremental", s"append-only refresh took '$path'")
    assert(usesMatView(q, "mv2"), "refreshed view serves again")
    assert(sorted(spark.sql(q)) == direct(q))
    // idempotent refresh is a no-op
    assert(g.refreshMaterializedView("mv2") == "noop")
  }

  test("delete/update on a min/max view take the group-pruned partial path; results stay correct") {
    // mv2 carries min(v)/max(v): subtraction cannot un-see a value, so
    // delete and update refreshes re-aggregate ONLY the affected groups
    g.delete("mvb2", col("v") % 10 === 4)
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb2 GROUP BY k"
    assert(!usesMatView(q, "mv2"))
    assert(g.refreshMaterializedView("mv2") == "partial")
    assert(usesMatView(q, "mv2"))
    assert(sorted(spark.sql(q)) == direct(q))
    g.update("mvb2", col("k") === 3, "v" -> (col("v") + 1))
    assert(!usesMatView(q, "mv2"))
    assert(g.refreshMaterializedView("mv2") == "partial")
    assert(sorted(spark.sql(q)) == direct(q))
  }

  test("incremental refresh equals a from-scratch rebuild") {
    // every signed refresh path over the three view shapes, plus a
    // min/max view over nullable measures that takes the partial
    // fallback: after each move the stored live rows (count(*) slot > 0)
    // equal a fresh CREATE over the same base — the merge itself is
    // exact, not only the masked answer the rewrite serves. Bucketed by
    // pk, so no delete empties a batch (that case rebuilds).
    def factRows(from: Long, to: Long, fkMod: Int): DataFrame =
      spark.range(from, to).select(col("id").as("pk"),
        (col("id") % fkMod).as("fk"), (col("id") % 7).cast("int").as("k"),
        (col("id") * 2).as("v"),
        when(col("id") % 11 === 0, lit(null).cast("long")).otherwise(col("id")).as("nv"))
    def appendFact(from: Long, to: Long, fkMod: Int): Unit =
      g.insert("mvp_fact", factRows(from, to, fkMod))
    g.createTable("mvp_fact", factRows(0, 600, 30), partitionBy = Seq("pk"), buckets = 4)
    g.createTable("mvp_dim", spark.range(30).select(col("id").as("dk"),
      concat(lit("g"), col("id") % 4).as("grp")), partitionBy = Seq("dk"), buckets = 2)
    // view -> (defining query, its count(*) storage slot)
    val shapes = Seq(
      "mvp_keyed" -> ("SELECT k, sum(v) AS sv, count(*) AS n, avg(v) AS av " +
        "FROM mvp_fact GROUP BY k", "__g1_cnt"),
      "mvp_star" -> ("SELECT grp, k, sum(v) AS sv, count(*) AS n " +
        "FROM mvp_fact JOIN mvp_dim ON fk = dk GROUP BY grp, k", "__g1_cnt"),
      "mvp_global" -> ("SELECT count(*) AS n, sum(v) AS sv FROM mvp_fact " +
        "JOIN mvp_dim ON fk = dk WHERE k >= 2", "__g0_cnt"),
      "mvp_minmax" -> ("SELECT k, sum(v) AS sv, count(*) AS n, count(nv) AS cn, " +
        "min(nv) AS mn, max(nv) AS mx, avg(nv) AS an FROM mvp_fact GROUP BY k", "__g1_cnt"))
    shapes.foreach { case (v, (q, _)) => g.sql(s"CREATE MATERIALIZED VIEW $v AS $q") }
    val all = (p: String) => shapes.map(_._1 -> p).toMap
    // move -> the path each view takes (the single-table views read only
    // the fact, so the two-table append is a single-mover append for them)
    val moves: Seq[(String, () => Unit, Map[String, String])] = Seq(
      ("append", () => appendFact(600, 700, 30), all("incremental")),
      ("two-table append", () => {
        appendFact(700, 760, 36)
        g.insert("mvp_dim", spark.range(30, 36).select(col("id").as("dk"),
          concat(lit("g"), col("id") % 4).as("grp")))
      }, all("incremental_multi") + ("mvp_keyed" -> "incremental") +
        ("mvp_minmax" -> "incremental")),
      ("first delete", () => g.delete("mvp_fact", col("v") % 10 === 4),
        all("incremental_delete") + ("mvp_minmax" -> "partial")),
      ("repeat delete", () => g.delete("mvp_fact", col("v") % 10 === 6),
        all("incremental_delete") + ("mvp_minmax" -> "partial")),
      // moves rows between groups and across the global view's predicate
      ("update", () => g.update("mvp_fact", col("pk") % 5 === 1,
        "v" -> (col("v") + 7), "k" -> ((col("k") + 1) % 7)),
        all("incremental_update") + ("mvp_minmax" -> "partial")))
    // demotion would turn the partial refresh of this small unclustered
    // base into a full rebuild
    withConf("spark.sql.graft.matview.partialDemote.enabled" -> "false") {
      moves.foreach { case (move, run, paths) =>
        run()
        shapes.foreach { case (v, (q, cnt)) =>
          assert(g.refreshMaterializedView(v) == paths(v), s"$move on $v")
          g.sql(s"CREATE MATERIALIZED VIEW ${v}_check AS $q")
          try assert(sorted(GraftStoreOps_read(v).filter(col(cnt) > 0)) ==
            sorted(GraftStoreOps_read(s"${v}_check")), s"$move on $v")
          finally g.dropMaterializedView(s"${v}_check")
        }
      }
    }
    g.dropTable("mvp_fact"); g.dropTable("mvp_dim")
  }

  test("refresh job counts per signed path stay within their measured bounds") {
    g.createTable("mvjc_base", spark.range(700).select(col("id").as("pk"),
      (col("id") % 7).cast("int").as("k"), (col("id") * 2).as("v")),
      partitionBy = Seq("pk"), buckets = 4)
    g.sql("CREATE MATERIALIZED VIEW mvjc AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n FROM mvjc_base GROUP BY k")
    def refreshJobs(path: String): Int = {
      var took = ""
      val jobs = jobsDuring { took = g.refreshMaterializedView("mvjc") }
      assert(took == path)
      jobs
    }
    g.insert("mvjc_base", spark.range(700, 800).select(col("id").as("pk"),
      (col("id") % 9).cast("int").as("k"), (col("id") * 2).as("v")))
    val append = refreshJobs("incremental")
    g.delete("mvjc_base", col("v") % 10 === 4)
    val delete = refreshJobs("incremental_delete")
    g.update("mvjc_base", col("pk") % 5 === 1, "v" -> (col("v") + 7))
    val update = refreshJobs("incremental_update")
    // bounds are the counts measured before the paths shared one keyed
    // merge (append 8, delete 7, update 9); the delete path may add the
    // one job of the merge aggregate that replaced its subtract join
    assert(append <= 8, s"append refresh ran $append jobs")
    assert(delete <= 7 + 1, s"delete refresh ran $delete jobs")
    assert(update <= 9, s"update refresh ran $update jobs")
    g.dropTable("mvjc_base")
  }

  private def GraftStoreOps_read(t: String): DataFrame =
    org.apache.spark.sql.graft.store.GraftStoreOps.read(spark, t)

  test("direct writes to the backing table are refused; CREATE TABLE supersedes") {
    val e = intercept[Exception](
      g.insert("mv1", spark.sql("SELECT * FROM mv1 LIMIT 1")))
    assert(e.getMessage.contains("materialized view"))
    val e2 = intercept[Exception](
      spark.sql("INSERT INTO graft.mv1 SELECT * FROM graft.mv1 LIMIT 1"))
    assert(e2.getMessage.contains("materialized view"))
    // explicit CREATE takes ownership of the name, like replicas
    g.createTable("mv_owned", spark.range(3).toDF("x"))
    assert(!MatViews.isMatView("mv_owned"))
  }

  test("sys.matviews reports shape and LIVE freshness") {
    val rows = spark.sql(
      "SELECT * FROM sys.matviews WHERE name = 'mv1'").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("base_table") == "mvb1")
    assert(r.getAs[String]("group_columns") == "k,cat")
    assert(r.getAs[Boolean]("is_fresh"))
    g.insertRows("mvb1", org.apache.spark.sql.Row(1, "c1", 10L, 1.0, 5L))
    assert(!spark.sql("SELECT is_fresh FROM sys.matviews WHERE name = 'mv1'")
      .head().getBoolean(0))
    assert(spark.sql("REFRESH MATERIALIZED VIEW mv1").head().getString(0)
      == "incremental")
    assert(spark.sql("SELECT is_fresh FROM sys.matviews WHERE name = 'mv1'")
      .head().getBoolean(0))
  }

  test("an RLS policy on the base disables the rewrite (no policy bypass)") {
    val q = "SELECT k, sum(v) AS sv FROM mvb1 GROUP BY k"
    assert(usesMatView(q, "mv1"))
    g.createPolicy("mv_pol", "mvb1", "k <> 0", Set("someone_else"))
    try assert(!usesMatView(q, "mv1"), "policy on base must disable the rewrite")
    finally g.dropPolicy("mv_pol")
    assert(usesMatView(q, "mv1"))
  }

  test("NULL group keys: build + rollup correct; incremental falls back to full") {
    val df = spark.range(100).select(
      when(col("id") % 5 === 0, lit(null).cast("int"))
        .otherwise((col("id") % 4).cast("int")).as("k"),
      col("id").as("v"))
    g.createTable("mvb4", df)
    g.sql("CREATE MATERIALIZED VIEW mv4 AS SELECT k, sum(v) AS sv, count(*) AS n " +
      "FROM mvb4 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb4 GROUP BY k"
    assert(usesMatView(q, "mv4"))
    assert(sorted(spark.sql(q)) == direct(q))
    g.insert("mvb4", spark.range(100, 140).select(
      when(col("id") % 5 === 0, lit(null).cast("int"))
        .otherwise((col("id") % 4).cast("int")).as("k"), col("id").as("v")))
    assert(g.refreshMaterializedView("mv4") == "full",
      "null group keys must not take the keyed-merge path")
    assert(sorted(spark.sql(q)) == direct(q))
  }

  test("decimal sums AND decimal avg rewrite with bit-exact values") {
    val df = spark.range(200).select(
      (col("id") % 5).cast("int").as("k"),
      (col("id") % 2).cast("int").as("j"),
      (col("id") / 100.0).cast("decimal(12,2)").as("amt"))
    g.createTable("mvb5", df)
    g.sql("CREATE MATERIALIZED VIEW mv5 AS SELECT k, j, sum(amt) AS sa, " +
      "count(amt) AS ca, avg(amt) AS aa FROM mvb5 GROUP BY k, j")
    val q = "SELECT k, j, sum(amt) AS sa FROM mvb5 GROUP BY k, j"
    assert(usesMatView(q, "mv5"))
    assert(sorted(spark.sql(q)) == direct(q))
    // decimal avg derives through Average's own decimal evaluate tree
    // (same intermediate types, same HALF_UP rounding) — exact both at
    // the view's own grain and ROLLED UP across merged groups
    val qAvg = "SELECT k, j, avg(amt) AS aa FROM mvb5 GROUP BY k, j"
    assert(usesMatView(qAvg, "mv5"), "decimal avg must serve from the view")
    assert(sorted(spark.sql(qAvg)) == direct(qAvg))
    assert(spark.sql(qAvg).schema("aa").dataType ==
      spark.table("mvb5").select(avg(col("amt")).as("aa")).schema("aa").dataType)
    val qRoll = "SELECT k, avg(amt) AS aa, sum(amt) AS sa FROM mvb5 GROUP BY k"
    assert(usesMatView(qRoll, "mv5"))
    assert(sorted(spark.sql(qRoll)) == direct(qRoll))
  }

  test("decimal incremental refresh conforms the widened merge sum back") {
    g.insert("mvb5", spark.range(200, 260).select(
      (col("id") % 5).cast("int").as("k"),
      (col("id") % 2).cast("int").as("j"),
      (col("id") / 100.0).cast("decimal(12,2)").as("amt")))
    assert(g.refreshMaterializedView("mv5") == "incremental")
    val q = "SELECT k, sum(amt) AS sa, avg(amt) AS aa FROM mvb5 GROUP BY k"
    assert(usesMatView(q, "mv5"))
    assert(sorted(spark.sql(q)) == direct(q))
  }

  test("DROP TABLE on the base cascades; DROP MATERIALIZED VIEW drops the table") {
    freshBase("mvb6", rows = 50)
    g.sql("CREATE MATERIALIZED VIEW mv6 AS SELECT k, sum(v) AS sv FROM mvb6 GROUP BY k")
    assert(MatViews.isMatView("mv6"))
    g.dropTable("mvb6")
    assert(!MatViews.isMatView("mv6"), "base drop must cascade")
    assert(GraftColumnStore.get("mv6").isEmpty)
    // DROP MATERIALIZED VIEW face
    freshBase("mvb7", rows = 50)
    g.sql("CREATE MATERIALIZED VIEW mv7 AS SELECT k, sum(v) AS sv FROM mvb7 GROUP BY k")
    g.sql("DROP MATERIALIZED VIEW mv7")
    assert(!MatViews.isMatView("mv7") && GraftColumnStore.get("mv7").isEmpty)
    g.dropTable("mvb7")
  }

  test("sketch slot: approx_count_distinct rolls up through mergeable HLL unions") {
    val df = spark.range(5000).select(
      (col("id") % 6).cast("int").as("k"),
      concat(lit("s"), col("id") % 3).as("st"),
      (col("id") % 797).as("u"))
    g.createTable("mvb8", df, partitionBy = Seq("k"), buckets = 4)
    g.sql("CREATE MATERIALIZED VIEW mv8 AS SELECT k, st, " +
      "approx_count_distinct(u) AS au, count(*) AS n FROM mvb8 GROUP BY k, st")
    // rollup to k: the HLL UNION dedupes users across st groups — a
    // numeric-count rollup would overcount; the estimate must be within
    // the sketch's error of the true distinct count
    val q = "SELECT k, approx_count_distinct(u) AS au, count(*) AS n FROM mvb8 GROUP BY k"
    assert(usesMatView(q, "mv8"))
    val est = spark.sql(q).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exact = spark.sql(
      "SELECT k, count(DISTINCT u) AS du FROM mvb8 GROUP BY k").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, du) =>
      assert(math.abs(est(k) - du) <= math.max(3, 0.05 * du),
        s"k=$k est ${est(k)} vs exact $du")
    }
    // a TIGHTER rsd than the stored sketch's own error must decline
    val qTight = "SELECT k, approx_count_distinct(u, 0.005) AS au FROM mvb8 GROUP BY k"
    assert(!usesMatView(qTight, "mv8"))
    // incremental refresh UNIONS sketches (appends introduce overlap:
    // re-inserted users must not double-count)
    g.insert("mvb8", spark.range(2000).select(
      (col("id") % 6).cast("int").as("k"), concat(lit("s"), col("id") % 3).as("st"),
      (col("id") % 797).as("u")))
    assert(g.refreshMaterializedView("mv8") == "incremental")
    val est2 = spark.sql(q).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exact2 = spark.sql(
      "SELECT k, count(DISTINCT u) AS du FROM mvb8 GROUP BY k").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact2.foreach { case (k, du) =>
      assert(math.abs(est2(k) - du) <= math.max(3, 0.05 * du),
        s"post-refresh k=$k est ${est2(k)} vs exact $du")
    }
  }

  test("COUNT(DISTINCT group col) derives EXACTLY from the summary's rows") {
    val q = "SELECT k, count(DISTINCT st) AS ns, count(*) AS n FROM mvb8 GROUP BY k"
    assert(usesMatView(q, "mv8"))
    assert(sorted(spark.sql(q)) == direct(q))
    // global form too
    val qg = "SELECT count(DISTINCT st) AS ns, count(DISTINCT k) AS nk FROM mvb8"
    assert(usesMatView(qg, "mv8"))
    assert(sorted(spark.sql(qg)) == direct(qg))
    // distinct over a NON-group column cannot derive
    val qBad = "SELECT k, count(DISTINCT u) AS nu FROM mvb8 GROUP BY k"
    assert(!usesMatView(qBad, "mv8"))
  }

  test("stress: random mutation/refresh interleavings never serve a wrong answer (seeded)") {
    // sequential but adversarial: a seeded op stream drives the base
    // through inserts (sometimes overlapping groups, sometimes brand-new
    // ones), deletes, updates, refreshes and no-ops; after EVERY op the
    // grouped aggregate with the rewrite ON must equal the base truth —
    // whether the optimizer chose the view (fresh) or the base (stale)
    val rnd = new scala.util.Random(20260816L)
    val df0 = spark.range(200).select(
      (col("id") % 10).cast("int").as("k"), col("id").as("v"),
      (col("id") * 3).as("w"))
    g.createTable("mvb9", df0, keyColumns = Seq("v"))
    g.sql("CREATE MATERIALIZED VIEW mv9 AS " +
      "SELECT k, sum(w) AS sw, count(*) AS n, max(w) AS mx FROM mvb9 GROUP BY k")
    val q = "SELECT k, sum(w) AS sw, count(*) AS n, max(w) AS mx FROM mvb9 GROUP BY k"
    var nextId = 1000L
    var servedFresh = 0
    var refreshPaths = Map.empty[String, Int].withDefaultValue(0)
    (1 to 40).foreach { step =>
      rnd.nextInt(6) match {
        case 0 | 1 => // append, half the time into existing groups only
          val lo = nextId; nextId += 30
          val mod = if (rnd.nextBoolean()) 10 else 17
          g.insert("mvb9", spark.range(lo, nextId).select(
            (col("id") % mod).cast("int").as("k"), col("id").as("v"),
            (col("id") * 3).as("w")))
        case 2 => g.delete("mvb9", col("v") % 13 === (step % 13))
        case 3 => g.update("mvb9", col("k") === step % 10, "w" -> (col("w") + 1))
        case 4 =>
          val p = g.refreshMaterializedView("mv9")
          refreshPaths += p -> (refreshPaths(p) + 1)
        case 5 => () // quiescent step: re-query without changing anything
      }
      if (usesMatView(q, "mv9")) servedFresh += 1
      assert(sorted(spark.sql(q)) == direct(q), s"divergence at step $step")
    }
    g.refreshMaterializedView("mv9")
    assert(usesMatView(q, "mv9"))
    assert(sorted(spark.sql(q)) == direct(q))
    // the stream must have exercised both serving AND fallback, and both
    // refresh paths — otherwise the seed stopped covering the space
    assert(servedFresh > 0, "seed never served from the view")
    assert(servedFresh < 40, "seed never went stale")
    assert(refreshPaths("incremental") > 0 || refreshPaths("full") > 0,
      s"no refresh ran: $refreshPaths")
  }

  test("matview definition rides checkpoint/restore; restored view is stale until REFRESH") {
    freshBase("mvb10", rows = 400)
    g.sql("CREATE MATERIALIZED VIEW mv10 AS " +
      "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb10 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb10 GROUP BY k"
    assert(usesMatView(q, "mv10"))
    val truth = direct(q)
    val dBase = tempDir("mv_ck_b").toString
    val dMv = tempDir("mv_ck_v").toString
    g.checkpointTable("mvb10", dBase)
    g.checkpointTable("mv10", dMv)
    // simulate the cold JVM: drop the base (cascades the view + its
    // registration); only the checkpoint dirs survive
    g.dropTable("mvb10")
    assert(!MatViews.isMatView("mv10"))
    g.restoreTable("mvb10", dBase)
    g.restoreTable("mv10", dMv)
    // recovered: registered, introspectable, but provably NOT fresh —
    // restored payload ids can never match the recorded fingerprint
    assert(MatViews.isMatView("mv10"))
    assert(!spark.sql("SELECT is_fresh FROM sys.matviews WHERE name = 'mv10'")
      .head().getBoolean(0))
    assert(!usesMatView(q, "mv10"), "a restored view must not serve unrefreshed")
    assert(sorted(spark.sql(q)) == truth, "base scan answers meanwhile")
    assert(g.refreshMaterializedView("mv10") == "full")
    assert(usesMatView(q, "mv10"))
    assert(sorted(spark.sql(q)) == truth)
    g.dropTable("mvb10")
  }

  test("exact-group query over the view aggregates with ZERO shuffles (catalog partitioning)") {
    // the substituted relation rides the graft catalog, so the summary
    // scan reports KeyGroupedPartitioning over its bucket columns — an
    // exact-group re-aggregation needs no exchange (at 100 TB a summary
    // can itself be billions of groups; this is the shuffle that matters)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val q = spark.sql("SELECT k, cat, sum(v) AS sv FROM mvb1 GROUP BY k, cat")
    assert(scannedTables(q).contains("graftstore.mv1"))
    val shuffles = q.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"exact-group matview agg must not exchange:\n${q.queryExecution.executedPlan}")
  }

  test("concurrent REFRESHes serialize: the loser no-ops instead of double-merging") {
    // without the per-view maintenance lock, two refreshes computing the
    // same delta each merge it — the second reads rows the first already
    // merged, double-applies the increments, and then RECORDS the new
    // fingerprint: a corrupt view that proves fresh. With the lock the
    // loser re-reads the registry and must report "noop".
    val df0 = spark.range(500).select(
      (col("id") % 8).cast("int").as("k"), col("id").as("v"))
    g.createTable("mvb11", df0)
    g.sql("CREATE MATERIALIZED VIEW mv11 AS " +
      "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb11 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb11 GROUP BY k"
    (1 to 5).foreach { round =>
      g.insert("mvb11", spark.range(500L * round, 500L * round + 200)
        .select((col("id") % 8).cast("int").as("k"), col("id").as("v")))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val paths = Await.result(
        Future.sequence(Seq(
          Future(g.refreshMaterializedView("mv11")),
          Future(g.refreshMaterializedView("mv11")))), 120.seconds)
      assert(paths.sorted == Seq("incremental", "noop"),
        s"round $round: expected one merge and one no-op, got $paths")
      assert(usesMatView(q, "mv11"))
      assert(sorted(spark.sql(q)) == direct(q), s"round $round diverged")
    }
    g.dropTable("mvb11")
  }

  test("sibling same-shape views: one view's delta scan is never served by the other") {
    // mv_a and mv_b have identical shape over one base. After an append,
    // refreshing A makes it fresh; B's OWN refresh then runs a
    // batch_ids-pinned delta aggregate over the same base — if the
    // rewrite substituted fresh A for that pinned scan, B would merge
    // WHOLE-TABLE totals as its delta (double counts) and then prove
    // fresh. The rule declines pinned scans; both views must agree with
    // base truth after refreshing in sequence.
    val df0 = spark.range(300).select(
      (col("id") % 6).cast("int").as("k"), col("id").as("v"))
    g.createTable("mvb12", df0)
    g.sql("CREATE MATERIALIZED VIEW mv12a AS SELECT k, sum(v) AS sv, count(*) AS n FROM mvb12 GROUP BY k")
    g.sql("CREATE MATERIALIZED VIEW mv12b AS SELECT k, sum(v) AS sv, count(*) AS n FROM mvb12 GROUP BY k")
    g.insert("mvb12", spark.range(300, 420).select(
      (col("id") % 6).cast("int").as("k"), col("id").as("v")))
    assert(g.refreshMaterializedView("mv12a") == "incremental")
    assert(g.refreshMaterializedView("mv12b") == "incremental")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb12 GROUP BY k"
    assert(usesMatView(q, "mv12a") || usesMatView(q, "mv12b"))
    assert(sorted(spark.sql(q)) == direct(q), "a sibling view served a hijacked delta")
    // both backing tables hold base truth independently
    Seq("mv12a", "mv12b").foreach { mv =>
      assert(sorted(GraftStoreOps_read(mv).select(col("k"),
        col("__g0_sum").as("sv"), col("__g1_cnt").as("n"))) == direct(q), mv)
    }
    g.dropTable("mvb12")
  }

  test("content-preserving maintenance (compact) is legal on a backing table") {
    freshBase("mvb13", rows = 200)
    g.sql("CREATE MATERIALIZED VIEW mv13 AS SELECT k, sum(v) AS sv FROM mvb13 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv FROM mvb13 GROUP BY k"
    val truth = direct(q)
    // compacting the summary must not trip the write guard, and serving
    // continues unchanged afterwards
    org.apache.spark.sql.graft.store.GraftStoreOps.compact(spark, "mv13")
    assert(usesMatView(q, "mv13"))
    assert(sorted(spark.sql(q)) == truth)
    // ... while a plain user write is still refused
    val e = intercept[Exception](
      g.insert("mv13", spark.sql("SELECT * FROM mv13 LIMIT 1")))
    assert(e.getMessage.contains("materialized view"))
    g.dropTable("mvb13")
  }

  test("a reused checkpoint dir does not leak matview status onto a plain table") {
    freshBase("mvb14", rows = 100)
    g.sql("CREATE MATERIALIZED VIEW mv14 AS SELECT k, sum(v) AS sv FROM mvb14 GROUP BY k")
    val dir = tempDir("mv_reuse").toString
    g.checkpointTable("mv14", dir) // writes matview.properties
    g.dropTable("mvb14") // cascades mv14
    // the NAME is reused for a plain table checkpointed into the SAME dir
    g.createTable("mv14", spark.range(7).toDF("x"))
    g.checkpointTable("mv14", dir) // must delete the stale sidecar
    g.dropTable("mv14")
    g.restoreTable("mv14", dir)
    assert(!MatViews.isMatView("mv14"),
      "plain table restored from a reused dir must not become a matview")
    g.insertRows("mv14", org.apache.spark.sql.Row(99L)) // writable again
    assert(spark.sql("SELECT count(*) FROM mv14").head().getLong(0) == 8L)
    g.dropTable("mv14")
  }

  test("matviewAutoRefresh: session inserts keep views fresh through the O(delta) path") {
    freshBase("mvb15", rows = 150)
    g.sql("CREATE MATERIALIZED VIEW mv15 AS SELECT k, sum(v) AS sv, count(*) AS n FROM mvb15 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb15 GROUP BY k"
    spark.conf.set("spark.sql.graft.matviewAutoRefresh", "true")
    try {
      g.insert("mvb15", spark.range(150, 300).select(
        (col("id") % 7).cast("int").as("k"), lit("c0").as("cat"),
        col("id").as("v"), lit(1.0).as("d"), col("id").as("nv")))
      // no explicit REFRESH: the insert maintained the view
      assert(usesMatView(q, "mv15"), "auto-refreshed view must serve immediately")
      assert(sorted(spark.sql(q)) == direct(q))
    } finally spark.conf.set("spark.sql.graft.matviewAutoRefresh", "false")
    // off (default): the same insert leaves the view stale until REFRESH
    g.insert("mvb15", spark.range(300, 360).select(
      (col("id") % 7).cast("int").as("k"), lit("c0").as("cat"),
      col("id").as("v"), lit(1.0).as("d"), col("id").as("nv")))
    assert(!usesMatView(q, "mv15"))
    assert(g.refreshMaterializedView("mv15") == "incremental")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb15")
  }

  test("defining-query validation refuses self-joins, non-literal filters, and expressions") {
    val bad = Seq(
      "SELECT m1.k, sum(m1.v) AS s FROM mvb1 m1 JOIN mvb1 m2 ON m1.k = m2.k GROUP BY m1.k",
      "SELECT k, sum(v) AS s FROM mvb1 WHERE v > nv GROUP BY k", // col-vs-col
      // a general OR is still refused (same-column equality ORs fold to
      // IN and same-column range unions normalize, both since r15 — see
      // the disjunctive-predicates arms; a TWO-COLUMN OR and a
      // domain-covering ray overlap stay out of the algebra)
      "SELECT k, sum(v) AS s FROM mvb1 WHERE cat = 'c1' OR k = 2 GROUP BY k",
      "SELECT k, sum(v) AS s FROM mvb1 WHERE v < 500 OR v >= 400 GROUP BY k",
      // foldable but Unevaluable pre-FinishAnalysis (current_user() is
      // only substituted by the optimizer): must hit the actionable
      // refusal, not an opaque UnsupportedOperationException
      "SELECT k, sum(v) AS s FROM mvb1 WHERE cat = current_user() GROUP BY k",
      "SELECT k, sum(v + 1) AS s FROM mvb1 GROUP BY k",
      "SELECT k FROM mvb1 GROUP BY k")
    bad.foreach { sql =>
      val e = intercept[Exception](g.sql(s"CREATE MATERIALIZED VIEW mv_bad AS $sql"))
      assert(e.getMessage.contains("CREATE MATERIALIZED VIEW"), s"for: $sql → ${e.getMessage}")
    }
  }

  test("range-filtered view: verbatim >=/<=/BETWEEN containment serves; near-miss ranges decline") {
    freshBase("mvb25", rows = 600)
    g.sql("CREATE MATERIALIZED VIEW mv25 AS SELECT k, sum(v) AS sv, count(*) AS n " +
      "FROM mvb25 WHERE nv >= 110 AND nv <= 440 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb25 " +
      "WHERE nv >= 110 AND nv <= 440 GROUP BY k"
    assert(usesMatView(q, "mv25"), "verbatim range pair must serve")
    assert(sorted(spark.sql(q)) == direct(q))
    // BETWEEN desugars to the same canonical pair — syntax-independent
    val qb = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb25 " +
      "WHERE nv BETWEEN 110 AND 440 GROUP BY k"
    assert(usesMatView(qb, "mv25"), "BETWEEN must hit the >=/<= pair")
    assert(sorted(spark.sql(qb)) == direct(qb))
    // flipped operand order mirrors the operator (110 <= nv IS nv >= 110)
    assert(usesMatView("SELECT k, sum(v) AS sv FROM mvb25 " +
      "WHERE 110 <= nv AND nv <= 440 GROUP BY k", "mv25"))
    // residual range on a GROUP column composes on top of the match
    val qRes = "SELECT k, sum(v) AS sv FROM mvb25 " +
      "WHERE nv >= 110 AND nv <= 440 AND k >= 2 GROUP BY k"
    assert(usesMatView(qRes, "mv25"))
    assert(sorted(spark.sql(qRes)) == direct(qRes))
    // near misses decline (no implication engine): shifted bound,
    // widened bound, strict vs inclusive, half the window
    Seq("WHERE nv >= 111 AND nv <= 440", "WHERE nv >= 110 AND nv <= 441",
      "WHERE nv > 110 AND nv <= 440", "WHERE nv >= 110").foreach { w =>
      val bad = s"SELECT k, sum(v) AS sv FROM mvb25 $w GROUP BY k"
      assert(!usesMatView(bad, "mv25"), s"must decline: $bad")
      assert(sorted(spark.sql(bad)) == direct(bad))
    }
    // refresh re-applies the stored range to the delta scan
    g.insert("mvb25", spark.range(600, 720).select(
      (col("id") % 7).cast("int").as("k"), concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"), (col("id") % 100).cast("double").as("d"),
      col("id").as("nv")))
    assert(g.refreshMaterializedView("mv25") == "incremental")
    assert(usesMatView(q, "mv25"))
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb25")
  }

  test("COUNT(DISTINCT) rollup matches group columns case-insensitively") {
    freshBase("mvb26", rows = 300)
    g.sql("CREATE MATERIALIZED VIEW mv26 AS SELECT k, cat, sum(v) AS sv, " +
      "count(*) AS n FROM mvb26 GROUP BY k, cat")
    // simulate a definition recorded under different case (a sidecar or
    // tool that normalizes names) — the rewrite must compare the query's
    // resolved attribute to the stored group names case-insensitively,
    // like every other group-column match in the rule
    val mv = org.apache.spark.sql.graft.store.MatViews.get("mv26").get
    org.apache.spark.sql.graft.store.MatViews.register(
      mv.copy(groupCols = mv.groupCols.map(_.toUpperCase)))
    val q = "SELECT k, count(DISTINCT cat) AS nc, count(*) AS n FROM mvb26 GROUP BY k"
    assert(usesMatView(q, "mv26"), "case-shifted group names must still roll up")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb26")
  }

  test("filtered view: exact predicate containment serves; mismatch declines") {
    freshBase("mvb16", rows = 600)
    g.sql("CREATE MATERIALIZED VIEW mv16 AS SELECT k, sum(v) AS sv, count(*) AS n, " +
      "avg(d) AS ad FROM mvb16 WHERE cat = 'c1' GROUP BY k")
    // the query re-states the view's predicate verbatim → serve
    val q = "SELECT k, sum(v) AS sv, count(*) AS n, avg(d) AS ad " +
      "FROM mvb16 WHERE cat = 'c1' GROUP BY k"
    assert(usesMatView(q, "mv16"), "exact predicate match must serve")
    assert(sorted(spark.sql(q)) == direct(q))
    // extra residual conjunct on a GROUP column composes on top
    val qRes = "SELECT k, sum(v) AS sv FROM mvb16 WHERE cat = 'c1' AND k > 2 GROUP BY k"
    assert(usesMatView(qRes, "mv16"))
    assert(sorted(spark.sql(qRes)) == direct(qRes))
    // global rollup under the same predicate
    val qGlobal = "SELECT sum(v) AS sv, count(*) AS n FROM mvb16 WHERE cat = 'c1'"
    assert(usesMatView(qGlobal, "mv16"))
    assert(sorted(spark.sql(qGlobal)) == direct(qGlobal))
    // declines: no predicate / different literal / widened predicate —
    // each wants rows the view excluded
    Seq("SELECT k, sum(v) AS sv FROM mvb16 GROUP BY k",
      "SELECT k, sum(v) AS sv FROM mvb16 WHERE cat = 'c2' GROUP BY k",
      "SELECT k, sum(v) AS sv FROM mvb16 WHERE cat = 'c1' OR cat = 'c2' GROUP BY k")
      .foreach { bad =>
        assert(!usesMatView(bad, "mv16"), s"must decline: $bad")
        assert(sorted(spark.sql(bad)) == direct(bad))
      }
    // refresh paths respect the predicate: append then O(delta) merge
    g.insert("mvb16", spark.range(600, 720).select(
      (col("id") % 7).cast("int").as("k"), concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"), (col("id") % 100).cast("double").as("d"),
      col("id").as("nv")))
    assert(!usesMatView(q, "mv16"))
    assert(g.refreshMaterializedView("mv16") == "incremental")
    assert(usesMatView(q, "mv16"))
    assert(sorted(spark.sql(q)) == direct(q))
    // ... and the delete path: this view's avg(d) input is NULLABLE
    // (freshBase's d derives through %, which Spark types nullable), so
    // the subtractive refresh correctly declines — group-pruned partial
    // rebuild (only groups with tombstoned rows re-aggregate, under the
    // view predicate)
    g.delete("mvb16", col("v") % 10 === 2)
    assert(g.refreshMaterializedView("mv16") == "partial")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb16")
  }

  test("subtractive refresh: first-delete O(delta), emptied groups masked, repeat-delete O(delta) too") {
    // pin accounting: every register pins the fingerprint's bitmap ids
    // and unpins the superseded registration's — by drop time the net
    // live-pin count must return to the pre-test level (no leak)
    val pinsBefore = org.apache.spark.sql.graft.store
      .GraftColumnStore.BatchRegistry.bitmapPinStats._1
    // bucketed by CAT, not by the group key: emptying group k=6 must
    // not empty whole batches (the store DROPS a fully-deleted batch,
    // and a vanished payload cannot be re-read — that case correctly
    // rebuilds); avg over the NON-NULLABLE v (freshBase's d types
    // nullable through %, which would also decline)
    g.createTable("mvb28", spark.range(700).select(
      (col("id") % 7).cast("int").as("k"),
      concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("nv")),
      partitionBy = Seq("cat"), buckets = 4)
    g.sql("CREATE MATERIALIZED VIEW mv28 AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n, avg(v) AS av, count(nv) AS cn FROM mvb28 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n, avg(v) AS av, " +
      "count(nv) AS cn FROM mvb28 GROUP BY k"
    assert(usesMatView(q, "mv28"))
    // FIRST delete: empties group k=6 entirely AND trims the others —
    // the refresh reads ONLY the tombstoned rows of the moved batches
    // and subtracts (sums/counts invert; avg subtracts both slots;
    // count(nv) subtracts the non-null count exactly)
    g.delete("mvb28", col("k") === 6 || col("v") % 10 === 2)
    assert(!usesMatView(q, "mv28"))
    assert(g.refreshMaterializedView("mv28") == "incremental_delete")
    assert(usesMatView(q, "mv28"))
    assert(sorted(spark.sql(q)) == direct(q))
    // the emptied group keeps a ZERO summary row in storage (O(delta)
    // maintenance never collects keys) that the rewrite masks
    assert(GraftStoreOps_read("mv28").filter(col("__g1_cnt") === 0).count() == 1)
    assert(spark.sql(q).filter(col("k") === 6).isEmpty)
    // rollups over the summary ignore the zero row
    val qg = "SELECT sum(v) AS sv, count(*) AS n FROM mvb28"
    assert(usesMatView(qg, "mv28"))
    assert(sorted(spark.sql(qg)) == direct(qg))
    // appending into the emptied group resurrects it (append merge adds
    // onto the zeroed slots; the mask lifts once the count is > 0)
    g.insert("mvb28", spark.range(700, 720).select(
      lit(6).cast("int").as("k"), lit("cX").as("cat"), col("id").as("v"),
      col("id").as("nv")))
    assert(g.refreshMaterializedView("mv28") == "incremental")
    assert(sorted(spark.sql(q)) == direct(q))
    assert(spark.sql(q).filter(col("k") === 6).count() == 1)
    // a SECOND delete lands on batches that already carry a bitmap: the
    // newly-deleted set is (current bitmap) MINUS (recorded bitmap) —
    // the recorded payload is PINNED by the registration against the
    // superseding union swap's GC, so the repeat delete stays O(delta)
    g.delete("mvb28", col("v") % 10 === 4)
    assert(g.refreshMaterializedView("mv28") == "incremental_delete")
    assert(sorted(spark.sql(q)) == direct(q))
    // ... and a THIRD, retention-cadence style
    g.delete("mvb28", col("v") % 10 === 6)
    assert(g.refreshMaterializedView("mv28") == "incremental_delete")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb28")
    assert(org.apache.spark.sql.graft.store
      .GraftColumnStore.BatchRegistry.bitmapPinStats._1 == pinsBefore,
      "bitmap pins must not leak across the view lifecycle")
  }

  test("when the algebra cannot invert, deletes take the group-pruned partial path") {
    // bucketed by CAT, not the group key: emptying group k=5 must not
    // empty whole batches (a fully-deleted batch DROPS from the store,
    // which correctly declines the delta paths — not what this arm pins)
    g.createTable("mvb29", spark.range(300).select(
      (col("id") % 7).cast("int").as("k"),
      concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("nv")),
      partitionBy = Seq("cat"), buckets = 4)
    // nullable sum input: removing the last non-null value would need
    // the stored sum to flip to NULL, which subtraction cannot know
    g.sql("CREATE MATERIALIZED VIEW mv29a AS SELECT k, sum(nv) AS sv, " +
      "count(*) AS n FROM mvb29 GROUP BY k")
    // min/max cannot un-see a value
    g.sql("CREATE MATERIALIZED VIEW mv29b AS SELECT k, max(v) AS mx, " +
      "count(*) AS n FROM mvb29 GROUP BY k")
    // no count(*) slot: group emptiness would be undetectable under
    // subtraction (the partial path detects it structurally instead:
    // no refreshed row → delete by key)
    g.sql("CREATE MATERIALIZED VIEW mv29c AS SELECT k, sum(v) AS sv " +
      "FROM mvb29 GROUP BY k")
    // v%7===3 ⟺ id%7===5 ⟺ k===5: the delete empties group k=5
    // ENTIRELY — the partial rebuild must remove its summary row (not
    // mask it: these views may lack the count(*) mask slot)
    g.delete("mvb29", col("v") % 7 === 3)
    assert(g.refreshMaterializedView("mv29a") == "partial")
    assert(g.refreshMaterializedView("mv29b") == "partial")
    assert(g.refreshMaterializedView("mv29c") == "partial")
    val q = "SELECT k, sum(nv) AS sv, count(*) AS n FROM mvb29 GROUP BY k"
    assert(usesMatView(q, "mv29a"))
    assert(sorted(spark.sql(q)) == direct(q))
    assert(spark.sql(q).filter(col("k") === 5).isEmpty,
      "vanished group's summary row must be deleted")
    val q2 = "SELECT k, max(v) AS mx, count(*) AS n FROM mvb29 GROUP BY k"
    assert(usesMatView(q2, "mv29b"))
    assert(sorted(spark.sql(q2)) == direct(q2))
    g.dropTable("mvb29")
  }

  test("filtered view definition rides checkpoint/restore") {
    freshBase("mvb17", rows = 200)
    g.sql("CREATE MATERIALIZED VIEW mv17 AS SELECT k, sum(v) AS sv " +
      "FROM mvb17 WHERE cat = 'c0' GROUP BY k")
    val dir = tempDir("mv_pred_ck").toString
    g.checkpointTable("mv17", dir)
    g.dropTable("mvb17") // cascades mv17
    freshBase("mvb17", rows = 200)
    g.restoreTable("mv17", dir)
    assert(MatViews.get("mv17").exists(_.predicate.nonEmpty),
      "restored view must keep its predicate")
    assert(g.refreshMaterializedView("mv17") == "full")
    val q = "SELECT k, sum(v) AS sv FROM mvb17 WHERE cat = 'c0' GROUP BY k"
    assert(usesMatView(q, "mv17"))
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb17")
  }

  test("matviewStrictFreshness: a held plan aborts after a base mutation instead of serving its planned snapshot") {
    freshBase("mvb27", rows = 400)
    g.sql("CREATE MATERIALIZED VIEW mv27 AS SELECT k, sum(v) AS sv " +
      "FROM mvb27 GROUP BY k")
    spark.conf.set("spark.sql.graft.matviewStrictFreshness", "true")
    try {
      val q = "SELECT k, sum(v) AS sv FROM mvb27 GROUP BY k"
      // fresh: strict serving still answers (the re-proof passes)
      assert(usesMatView(q, "mv27"))
      assert(sorted(spark.sql(q)) == direct(q))
      // plan a DF against the fresh view, mutate the base, THEN execute:
      // strict mode re-proves at execution start and must ABORT (the
      // default snapshot-at-plan semantics would serve the planned
      // contents — MatViewSpec's held-DataFrame test pins that contract)
      val held = spark.sql(q)
      assert(Plans.scansStoreTable(held, "mv27"))
      g.insert("mvb27", spark.range(400, 410).select(
        (col("id") % 7).cast("int").as("k"), concat(lit("c"), col("id") % 3).as("cat"),
        (col("id") * 2).as("v"), (col("id") % 100).cast("double").as("d"),
        col("id").as("nv")))
      val e = intercept[Exception](held.collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("strict freshness")),
        s"expected the strict-freshness abort, got: $e")
      // a NEW query re-plans, declines the stale view, answers truth
      assert(!usesMatView(q, "mv27"))
      assert(sorted(spark.sql(q)) == direct(q))
      // and after REFRESH strict serving resumes
      g.refreshMaterializedView("mv27")
      assert(usesMatView(q, "mv27"))
      assert(sorted(spark.sql(q)) == direct(q))
    } finally {
      spark.conf.set("spark.sql.graft.matviewStrictFreshness", "false")
      g.dropTable("mvb27")
    }
  }

  test("coarsest fresh cover wins when several views match") {
    freshBase("mvb18", rows = 400)
    // zz_coarse sorts AFTER aa_fine by name — only the cost order can
    // pick it; both cover a GROUP BY cat rollup, the 3-group summary
    // should serve it, not the 21-group one
    g.sql("CREATE MATERIALIZED VIEW aa_fine AS " +
      "SELECT k, cat, sum(v) AS sv FROM mvb18 GROUP BY k, cat")
    g.sql("CREATE MATERIALIZED VIEW zz_coarse AS " +
      "SELECT cat, sum(v) AS sv FROM mvb18 GROUP BY cat")
    val q = "SELECT cat, sum(v) AS sv FROM mvb18 GROUP BY cat"
    assert(usesMatView(q, "zz_coarse"),
      "the coarsest covering view must serve the rollup")
    assert(!usesMatView(q, "aa_fine"))
    assert(sorted(spark.sql(q)) == direct(q))
    // a query only the fine view covers still routes there
    val qFine = "SELECT k, sum(v) AS sv FROM mvb18 GROUP BY k"
    assert(usesMatView(qFine, "aa_fine"))
    assert(sorted(spark.sql(qFine)) == direct(qFine))
    // staleness re-routes: refresh only the FINE view after a mutation —
    // the coarse one is stale, so the rollup falls through to the fine view
    g.insert("mvb18", spark.range(400, 450).select(
      (col("id") % 7).cast("int").as("k"), concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"), lit(0.0).as("d"), col("id").as("nv")))
    g.refreshMaterializedView("aa_fine")
    assert(usesMatView(q, "aa_fine"),
      "with the coarse view stale, the fresh fine view must serve")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb18")
  }

  test("held DataFrame keeps its planned snapshot; a new query re-proves freshness") {
    freshBase("mvb19", rows = 300)
    g.sql("CREATE MATERIALIZED VIEW mv19 AS SELECT k, sum(v) AS sv, count(*) AS n " +
      "FROM mvb19 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb19 GROUP BY k"
    val held = spark.sql(q)
    held.queryExecution.executedPlan // plan NOW, while the view is fresh
    assert(Plans.scansStoreTable(held, "mv19"))
    val preMutation = sorted(held)
    g.insert("mvb19", spark.range(300, 360).select(
      (col("id") % 7).cast("int").as("k"), lit("c0").as("cat"),
      (col("id") * 2).as("v"), lit(0.0).as("d"), col("id").as("nv")))
    // snapshot-at-plan: the held DF still serves the view's then-correct
    // contents (the same read skew a pinned store scan has) ...
    assert(sorted(held) == preMutation,
      "a held plan must keep its planned snapshot")
    // ... while a NEW query re-proves freshness, declines, and sees the
    // mutation from the base scan
    assert(!usesMatView(q, "mv19"))
    assert(sorted(spark.sql(q)) == direct(q))
    assert(sorted(spark.sql(q)) != preMutation, "new query must see the insert")
    g.dropTable("mvb19")
  }

  test("cross-session name collisions are refused, not clobbered") {
    freshBase("mvb20", rows = 50)
    // a SECOND session (sharing the JVM-global store registries, as a
    // JDBC session would) must not overwrite a same-named store table
    // or view created elsewhere
    val g2 = new GraftSession(spark.newSession())
    g2.createTable("mvb20_other", spark.range(5).toDF("x"))
    val e = intercept[Exception](g2.sql("CREATE MATERIALIZED VIEW mvb20 AS " +
      "SELECT x, count(*) AS n FROM mvb20_other GROUP BY x"))
    assert(e.getMessage.contains("name in use"))
    g.sql("CREATE MATERIALIZED VIEW mv20 AS SELECT k, sum(v) AS sv FROM mvb20 GROUP BY k")
    val e2 = intercept[Exception](g2.sql("CREATE MATERIALIZED VIEW mv20 AS " +
      "SELECT x, count(*) AS n FROM mvb20_other GROUP BY x"))
    assert(e2.getMessage.contains("name in use"))
    g2.dropTable("mvb20_other")
    g.dropTable("mvb20")
  }

  test("star-schema view: set-matched join rewrite, rollup, per-table freshness, O(delta) fact appends") {
    val fact = spark.range(1000).select(
      (col("id") % 50).as("fk"), (col("id") % 7).cast("int").as("k"),
      (col("id") * 2).as("v"))
    val dim = spark.range(50).select(
      col("id").as("dk"), concat(lit("s"), col("id") % 4).as("seg"),
      concat(lit("r"), col("id") % 3).as("region"))
    g.createTable("mvj_fact", fact, partitionBy = Seq("fk"), buckets = 4)
    g.createTable("mvj_dim", dim)
    g.sql("CREATE MATERIALIZED VIEW mvj1 AS " +
      "SELECT seg, k, sum(v) AS sv, count(*) AS n, max(v) AS mx " +
      "FROM mvj_fact JOIN mvj_dim ON fk = dk GROUP BY seg, k")
    val q = "SELECT seg, k, sum(v) AS sv, count(*) AS n, max(v) AS mx " +
      "FROM mvj_fact JOIN mvj_dim ON fk = dk GROUP BY seg, k"
    assert(usesMatView(q, "mvj1"), "exact join match must serve")
    assert(sorted(spark.sql(q)) == direct(q))
    // rollup to the dim attribute alone; flipped condition + reversed
    // table order still match (canonical SET comparison)
    val qRoll = "SELECT seg, sum(v) AS sv, count(*) AS n " +
      "FROM mvj_dim JOIN mvj_fact ON dk = fk GROUP BY seg"
    assert(usesMatView(qRoll, "mvj1"), "join order/condition flip must still match")
    assert(sorted(spark.sql(qRoll)) == direct(qRoll))
    // residual filter on a group column composes over the summary
    val qRes = "SELECT k, sum(v) AS sv FROM mvj_fact JOIN mvj_dim ON fk = dk " +
      "WHERE seg = 's1' GROUP BY k"
    assert(usesMatView(qRes, "mvj1"))
    assert(sorted(spark.sql(qRes)) == direct(qRes))
    // declines: different join condition, missing table, extra predicate
    // on a non-group column — each wants rows the summary cannot provide
    Seq(
      "SELECT seg, sum(v) AS sv FROM mvj_fact JOIN mvj_dim ON v = dk GROUP BY seg",
      "SELECT k, sum(v) AS sv FROM mvj_fact GROUP BY k",
      "SELECT seg, sum(v) AS sv FROM mvj_fact JOIN mvj_dim ON fk = dk " +
        "WHERE region = 'r1' GROUP BY seg")
      .foreach { bad =>
        assert(!usesMatView(bad, "mvj1"), s"must decline: $bad")
        assert(sorted(spark.sql(bad)) == direct(bad))
      }
    // fact append: stale → O(delta) refresh (dim fingerprint carries)
    g.insert("mvj_fact", spark.range(1000, 1200).select(
      (col("id") % 50).as("fk"), (col("id") % 7).cast("int").as("k"),
      (col("id") * 2).as("v")))
    assert(!usesMatView(q, "mvj1"), "fact mutation must stale the view")
    assert(sorted(spark.sql(q)) == direct(q), "stale period answers from the join")
    assert(g.refreshMaterializedView("mvj1") == "incremental",
      "single-table append must take the delta-join path")
    assert(usesMatView(q, "mvj1"))
    assert(sorted(spark.sql(q)) == direct(q))
    // dim append: the delta is (new dim rows × old fact rows) — those
    // join pairs were never in the summary, so a single-moving-table
    // append is additive from EITHER side and stays O(delta)
    g.insertRows("mvj_dim", org.apache.spark.sql.Row(50L, "s0", "r0"))
    assert(!usesMatView(q, "mvj1"), "dim mutation must stale the view")
    assert(g.refreshMaterializedView("mvj1") == "incremental",
      "a single-table dim append is an additive delta too")
    assert(usesMatView(q, "mvj1"))
    assert(sorted(spark.sql(q)) == direct(q))
    // BOTH tables appending between refreshes is not additive from one
    // side (new×new pairs would double-count under two single-sided
    // deltas) — the TELESCOPED multi-mover path composes them instead:
    // Δfact ⋈ recorded dim, then current fact ⋈ Δdim
    g.insert("mvj_fact", spark.range(1200, 1250).select(
      (col("id") % 51).as("fk"), (col("id") % 7).cast("int").as("k"),
      (col("id") * 2).as("v")))
    g.insertRows("mvj_dim", org.apache.spark.sql.Row(51L, "s1", "r1"))
    assert(g.refreshMaterializedView("mvj1") == "incremental_multi",
      "two append-only movers must compose, not rebuild")
    assert(usesMatView(q, "mvj1"))
    assert(sorted(spark.sql(q)) == direct(q))
    // delete in the fact: this view carries max(v), so subtraction
    // declines — the group-pruned partial path re-aggregates only the
    // (seg, k) groups the tombstoned fact rows touched, through the join
    g.delete("mvj_fact", col("v") % 10 === 4)
    assert(g.refreshMaterializedView("mvj1") == "partial")
    assert(sorted(spark.sql(q)) == direct(q))
    assert(g.refreshMaterializedView("mvj1") == "noop")
  }

  test("star-schema view: dim-predicate containment and cascade from either table") {
    // reuse mvj_fact/mvj_dim from the previous arm
    g.sql("CREATE MATERIALIZED VIEW mvj2 AS " +
      "SELECT k, sum(v) AS sv FROM mvj_fact JOIN mvj_dim ON fk = dk " +
      "WHERE region = 'r1' GROUP BY k")
    val q = "SELECT k, sum(v) AS sv FROM mvj_fact JOIN mvj_dim ON fk = dk " +
      "WHERE region = 'r1' GROUP BY k"
    assert(usesMatView(q, "mvj2"), "restated dim predicate must serve")
    assert(sorted(spark.sql(q)) == direct(q))
    val qOther = "SELECT k, sum(v) AS sv FROM mvj_fact JOIN mvj_dim ON fk = dk " +
      "WHERE region = 'r2' GROUP BY k"
    assert(!usesMatView(qOther, "mvj2"))
    assert(sorted(spark.sql(qOther)) == direct(qOther))
    // sidecar roundtrip: the join definition rides checkpoint/restore
    val dir = tempDir("mvj_ck").toString
    g.checkpointTable("mvj2", dir)
    g.dropMaterializedView("mvj2")
    g.restoreTable("mvj2", dir)
    assert(MatViews.get("mvj2").exists(_.joins.exists(_.tables.size == 2)),
      "restored view must keep its join definition")
    assert(!usesMatView(q, "mvj2"), "restored join view is stale until REFRESH")
    assert(g.refreshMaterializedView("mvj2") == "full")
    assert(usesMatView(q, "mvj2"))
    assert(sorted(spark.sql(q)) == direct(q))
    // dropping EITHER member table cascades the join view
    g.dropTable("mvj_dim")
    assert(!MatViews.isMatView("mvj2"), "dim drop must cascade the join view")
    assert(!MatViews.isMatView("mvj1"))
    g.dropTable("mvj_fact")
  }

  test("star-schema view: RANGE predicates contain through the qualified canonical forms") {
    g.createTable("mvjr_fact", spark.range(600).select(
      (col("id") % 5).as("fk"), col("id").as("v"), (col("id") % 90).as("age")),
      partitionBy = Seq("fk"), buckets = 4)
    g.createTable("mvjr_dim", spark.range(5).select(
      col("id").as("dk"), concat(lit("r"), col("id") % 2).as("region")))
    // a range on the FACT column and an equality on the DIM column,
    // both inside one join view — the qualified `` `t`.`c` >= lit ``
    // discipline (build executes the strings via expr over per-table
    // aliases; rewrite matches them verbatim)
    g.sql("CREATE MATERIALIZED VIEW mvjr AS " +
      "SELECT region, sum(v) AS sv, count(*) AS n " +
      "FROM mvjr_fact JOIN mvjr_dim ON fk = dk " +
      "WHERE age >= 30 AND region = 'r1' GROUP BY region")
    val q = "SELECT region, sum(v) AS sv, count(*) AS n " +
      "FROM mvjr_fact JOIN mvjr_dim ON fk = dk " +
      "WHERE age >= 30 AND region = 'r1' GROUP BY region"
    assert(usesMatView(q, "mvjr"), "restated fact range + dim equality must serve")
    assert(sorted(spark.sql(q)) == direct(q))
    // BETWEEN-introduced pair on the fact side declines (extra bound)
    val qNarrow = "SELECT region, sum(v) AS sv FROM mvjr_fact " +
      "JOIN mvjr_dim ON fk = dk " +
      "WHERE age BETWEEN 30 AND 60 AND region = 'r1' GROUP BY region"
    assert(!usesMatView(qNarrow, "mvjr"), "narrower window must decline")
    assert(sorted(spark.sql(qNarrow)) == direct(qNarrow))
    // shifted bound declines; omitted range declines
    Seq("WHERE age >= 31 AND region = 'r1'", "WHERE region = 'r1'").foreach { w =>
      val bad = s"SELECT region, sum(v) AS sv FROM mvjr_fact " +
        s"JOIN mvjr_dim ON fk = dk $w GROUP BY region"
      assert(!usesMatView(bad, "mvjr"), s"must decline: $bad")
      assert(sorted(spark.sql(bad)) == direct(bad))
    }
    // fact append → O(delta) refresh re-applies the qualified range
    g.insert("mvjr_fact", spark.range(600, 700).select(
      (col("id") % 5).as("fk"), col("id").as("v"), (col("id") % 90).as("age")))
    assert(g.refreshMaterializedView("mvjr") == "incremental")
    assert(usesMatView(q, "mvjr"))
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvjr_fact"); g.dropTable("mvjr_dim")
  }

  test("star-schema view: subtractive delete refresh works from either side") {
    g.createTable("mvjd_fact", spark.range(800).select(
      (col("id") % 40).as("fk"), (col("id") * 2).as("v")),
      partitionBy = Seq("fk"), buckets = 4)
    g.createTable("mvjd_dim", spark.range(40).select(
      col("id").as("dk"), concat(lit("g"), col("id") % 5).as("grp")))
    g.sql("CREATE MATERIALIZED VIEW mvjd AS SELECT grp, sum(v) AS sv, " +
      "count(*) AS n FROM mvjd_fact JOIN mvjd_dim ON fk = dk GROUP BY grp")
    val q = "SELECT grp, sum(v) AS sv, count(*) AS n " +
      "FROM mvjd_fact JOIN mvjd_dim ON fk = dk GROUP BY grp"
    assert(usesMatView(q, "mvjd"))
    // FACT-side first delete → subtractive: deleted fact rows ⋈ dim are
    // exactly the vanished join rows (the dim fingerprint carries)
    g.delete("mvjd_fact", col("v") % 10 === 4)
    assert(g.refreshMaterializedView("mvjd") == "incremental_delete")
    assert(usesMatView(q, "mvjd"))
    assert(sorted(spark.sql(q)) == direct(q))
    // DIM-side first delete → subtractive from the OTHER side: the
    // deleted dim rows ⋈ full fact remove every pair they anchored
    g.delete("mvjd_dim", col("dk").isin(7, 12))
    assert(g.refreshMaterializedView("mvjd") == "incremental_delete")
    assert(usesMatView(q, "mvjd"))
    assert(sorted(spark.sql(q)) == direct(q))
    // a SECOND fact delete lands on already-bitmapped batches — the
    // pinned recorded bitmaps make it O(delta) too, from either side
    g.delete("mvjd_fact", col("v") % 10 === 8)
    assert(g.refreshMaterializedView("mvjd") == "incremental_delete")
    assert(sorted(spark.sql(q)) == direct(q))
    // interleaved APPEND + DELETE between refreshes is neither a pure
    // append nor a bitmap-only move — correctly rebuilds
    g.insert("mvjd_fact", spark.range(800, 850).select(
      (col("id") % 40).as("fk"), (col("id") * 2).as("v")))
    g.delete("mvjd_fact", col("v") % 10 === 2)
    assert(g.refreshMaterializedView("mvjd") == "full")
    assert(sorted(spark.sql(q)) == direct(q))
    // delete-then-append ACROSS refreshes: each move classifies alone
    g.delete("mvjd_fact", col("v") % 20 === 6)
    assert(g.refreshMaterializedView("mvjd") == "incremental_delete")
    g.insert("mvjd_fact", spark.range(850, 880).select(
      (col("id") % 40).as("fk"), (col("id") * 2).as("v")))
    assert(g.refreshMaterializedView("mvjd") == "incremental")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvjd_fact"); g.dropTable("mvjd_dim")
  }

  test("IN-predicate views: set-identity matching, InSet conversion, qualified join form") {
    freshBase("mvb31", rows = 400)
    g.sql("CREATE MATERIALIZED VIEW mv31 AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n FROM mvb31 WHERE cat IN ('c2', 'c0') GROUP BY k")
    // permuted + duplicated element list → same canonical set
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb31 " +
      "WHERE cat IN ('c0', 'c2', 'c0') GROUP BY k"
    assert(usesMatView(q, "mv31"))
    assert(sorted(spark.sql(q)) == direct(q))
    // subset / superset / disjoint sets decline
    Seq("cat IN ('c0')", "cat IN ('c0', 'c1', 'c2')", "cat IN ('c1')")
      .foreach { w =>
        val bad = s"SELECT k, sum(v) AS sv FROM mvb31 WHERE $w GROUP BY k"
        assert(!usesMatView(bad, "mv31"), s"must decline: $w")
        assert(sorted(spark.sql(bad)) == direct(bad))
      }
    // refresh paths keep the predicate semantics
    g.insert("mvb31", spark.range(400, 480).select(
      (col("id") % 7).cast("int").as("k"), concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"), (col("id") % 100).cast("double").as("d"),
      col("id").as("nv")))
    assert(g.refreshMaterializedView("mv31") == "incremental")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb31")

    // a WIDE value list (past spark.sql.optimizer.inSetConversionThreshold,
    // default 10) optimizes to InSet on the query side — must still match
    freshBase("mvb32", rows = 300)
    val twelve = (0 until 12).map(i => i * 2).mkString(", ") // v ∈ {0..22 even}
    g.sql("CREATE MATERIALIZED VIEW mv32 AS SELECT k, count(*) AS n, " +
      s"sum(v) AS sv FROM mvb32 WHERE v IN ($twelve) GROUP BY k")
    val qWide = "SELECT k, count(*) AS n, sum(v) AS sv FROM mvb32 " +
      s"WHERE v IN (${(0 until 12).map(i => i * 2).reverse.mkString(", ")}) GROUP BY k"
    assert(usesMatView(qWide, "mv32"), "InSet-converted IN must match")
    assert(sorted(spark.sql(qWide)) == direct(qWide))
    // single-element IN folds to `=` on both sides
    g.sql("CREATE MATERIALIZED VIEW mv33 AS SELECT k, count(*) AS n " +
      "FROM mvb32 WHERE cat IN ('c1') GROUP BY k")
    val qEq = "SELECT k, count(*) AS n FROM mvb32 WHERE cat = 'c1' GROUP BY k"
    assert(usesMatView(qEq, "mv33"), "IN ('x') must serve cat = 'x'")
    assert(sorted(spark.sql(qEq)) == direct(qEq))
    g.dropTable("mvb32")
  }

  test("disjunctive predicates fold to IN: OR-of-equals matches IN views both ways; foreign shapes decline") {
    freshBase("mvb35", rows = 400)
    // view spelled with OR — canonicalizes to the sorted IN form
    g.sql("CREATE MATERIALIZED VIEW mv35 AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n FROM mvb35 WHERE cat = 'c2' OR cat = 'c0' GROUP BY k")
    // IN spelling, OR spelling permuted, OR-of-IN mix — one canonical set
    Seq("cat IN ('c0', 'c2')", "cat = 'c0' OR cat = 'c2'",
      "cat IN ('c2') OR cat = 'c0' OR cat = 'c2'").foreach { w =>
      val q = s"SELECT k, sum(v) AS sv, count(*) AS n FROM mvb35 WHERE $w GROUP BY k"
      assert(usesMatView(q, "mv35"), s"must serve: $w")
      assert(sorted(spark.sql(q)) == direct(q))
    }
    // subset, superset, a range disjunct, a different-column disjunct,
    // and OR over TWO columns all decline
    Seq("cat = 'c0'", "cat = 'c0' OR cat = 'c1' OR cat = 'c2'",
      "cat = 'c0' OR cat > 'c1'", "cat = 'c0' OR k = 3",
      "cat = 'c2' OR cat IS NULL").foreach { w =>
      val bad = s"SELECT k, sum(v) AS sv FROM mvb35 WHERE $w GROUP BY k"
      assert(!usesMatView(bad, "mv35"), s"must decline: $w")
      assert(sorted(spark.sql(bad)) == direct(bad))
    }
    // an IN view serves the OR spelling too (the reverse direction),
    // and refresh re-applies the canonical predicate correctly
    g.sql("CREATE MATERIALIZED VIEW mv36 AS SELECT k, count(*) AS n " +
      "FROM mvb35 WHERE cat IN ('c1', 'c0') GROUP BY k")
    val qOr = "SELECT k, count(*) AS n FROM mvb35 " +
      "WHERE cat = 'c1' OR cat = 'c0' GROUP BY k"
    assert(usesMatView(qOr, "mv36"), "IN view must serve the OR spelling")
    g.insert("mvb35", spark.range(400, 480).select(
      (col("id") % 7).cast("int").as("k"),
      concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"), (col("id") % 100).cast("double").as("d"),
      col("id").as("nv")))
    assert(g.refreshMaterializedView("mv36") == "incremental")
    assert(usesMatView(qOr, "mv36"))
    assert(sorted(spark.sql(qOr)) == direct(qOr))
    g.dropTable("mvb35")
  }

  test("OR-of-ranges views: interval-union normalization serves equivalent spellings; tautologies and near-misses decline") {
    freshBase("mvb37", rows = 600)
    // view spelled low-ray-last with a redundant overlapping ray
    g.sql("CREATE MATERIALIZED VIEW mv37 AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n FROM mvb37 WHERE nv >= 440 OR nv < 110 OR nv < 50 " +
      "GROUP BY k")
    // equivalent spellings — any order, redundancy folded, covered
    // points dropped, IN elements absorbed into the rays
    Seq("nv < 110 OR nv >= 440",
      "nv >= 440 OR nv < 110",
      "nv < 110 OR nv >= 440 OR nv >= 500",
      "nv < 110 OR nv >= 440 OR nv = 50 OR nv IN (445, 500)").foreach { w =>
      val q = s"SELECT k, sum(v) AS sv, count(*) AS n FROM mvb37 WHERE $w GROUP BY k"
      assert(usesMatView(q, "mv37"), s"must serve: $w")
      assert(sorted(spark.sql(q)) == direct(q))
    }
    // near-miss endpoints, a third uncovered point, and a closed-vs-open
    // boundary all change the canonical set — decline
    Seq("nv < 110 OR nv >= 441", "nv < 110 OR nv > 440",
      "nv < 110 OR nv >= 440 OR nv = 200", "nv <= 110 OR nv >= 440").foreach { w =>
      val bad = s"SELECT k, sum(v) AS sv FROM mvb37 WHERE $w GROUP BY k"
      assert(!usesMatView(bad, "mv37"), s"must decline: $w")
      assert(sorted(spark.sql(bad)) == direct(bad))
    }
    // endpoint-closing normalization: `nv < 110 OR nv = 110` IS
    // `nv <= 110`, whichever way the view or the query spells it
    g.sql("CREATE MATERIALIZED VIEW mv38 AS SELECT k, count(*) AS n " +
      "FROM mvb37 WHERE nv < 110 OR nv = 110 GROUP BY k")
    val qClosed = "SELECT k, count(*) AS n FROM mvb37 WHERE nv <= 110 GROUP BY k"
    assert(usesMatView(qClosed, "mv38"), "closed-ray spelling must serve")
    assert(sorted(spark.sql(qClosed)) == direct(qClosed))
    // refresh EXECUTES the canonical union (expr() over the base scan)
    g.insert("mvb37", spark.range(600, 700).select(
      (col("id") % 7).cast("int").as("k"), concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"), (col("id") % 100).cast("double").as("d"),
      col("id").as("nv")))
    assert(g.refreshMaterializedView("mv37") == "incremental")
    val q2 = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb37 " +
      "WHERE nv < 110 OR nv >= 440 GROUP BY k"
    assert(usesMatView(q2, "mv37"))
    assert(sorted(spark.sql(q2)) == direct(q2))
    g.dropTable("mvb37")
  }

  test("update refresh: predicate-crossing, repeated waves, and mixed moves") {
    g.createTable("mvb30", spark.range(400).select(
      col("id").as("pk"),
      (col("id") % 7).cast("int").as("k"),
      concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v")),
      partitionBy = Seq("pk"), buckets = 4)
    g.sql("CREATE MATERIALIZED VIEW mv30 AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n FROM mvb30 WHERE cat = 'c0' GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb30 " +
      "WHERE cat = 'c0' GROUP BY k"
    assert(usesMatView(q, "mv30"))
    // rows LEAVING the view predicate: old side subtracts, new side
    // filters out — net removal
    g.update("mvb30", col("pk") % 10 === 0, "cat" -> lit("cX"))
    assert(!usesMatView(q, "mv30"), "update must stale the view")
    assert(g.refreshMaterializedView("mv30") == "incremental_update")
    assert(usesMatView(q, "mv30"))
    assert(sorted(spark.sql(q)) == direct(q))
    // rows ENTERING the predicate: old side filters out, new side adds
    g.update("mvb30", col("cat") === "c1" && col("pk") % 4 === 1,
      "cat" -> lit("c0"))
    assert(g.refreshMaterializedView("mv30") == "incremental_update")
    assert(sorted(spark.sql(q)) == direct(q))
    // repeated measure waves on the SAME rows: the recorded-delta set
    // keeps each refresh reading only the NEW deltas
    g.update("mvb30", col("pk") % 6 === 2, "v" -> (col("v") + 5))
    assert(g.refreshMaterializedView("mv30") == "incremental_update")
    g.update("mvb30", col("pk") % 6 === 2, "v" -> (col("v") + 5))
    assert(g.refreshMaterializedView("mv30") == "incremental_update")
    assert(sorted(spark.sql(q)) == direct(q))
    // mixed UPDATE + DELETE between refreshes: neither signed-delta
    // shape, but the GROUP-PRUNED partial path covers it — affected
    // groups are the tombstoned rows' ∪ the updated rows' old+new groups
    g.update("mvb30", col("pk") % 9 === 1, "v" -> (col("v") + 1))
    g.delete("mvb30", col("pk") % 9 === 5)
    assert(g.refreshMaterializedView("mv30") == "partial")
    assert(sorted(spark.sql(q)) == direct(q))
    // append + delete is still neither (refIds changed): full
    g.insert("mvb30", spark.range(400, 410).select(
      col("id").as("pk"), (col("id") % 7).cast("int").as("k"),
      concat(lit("c"), col("id") % 3).as("cat"), (col("id") * 2).as("v")))
    g.delete("mvb30", col("pk") % 9 === 7)
    assert(g.refreshMaterializedView("mv30") == "full")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb30")
  }

  test("mixed move: a row updated ACROSS groups and then deleted still corrects its old group") {
    // the trap: the tombstoned row valued CURRENT only reveals its NEW
    // group, and the updated-rows reads cannot see it (they filter on
    // the current bitmap) — the partial path must also read the deleted
    // rows valued as of the RECORDED deltas to touch the OLD group
    g.createTable("mvb34", spark.range(300).select(
      col("id").as("pk"), (col("id") % 7).cast("int").as("k"),
      concat(lit("c"), col("id") % 3).as("cat"), (col("id") * 2).as("v")),
      partitionBy = Seq("pk"), buckets = 4)
    g.sql("CREATE MATERIALIZED VIEW mv34 AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n FROM mvb34 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb34 GROUP BY k"
    assert(usesMatView(q, "mv34"))
    // move pk∈{1, 8} from their groups (k=1) to k=9, then delete them —
    // group 1 must LOSE their contribution even though no surviving row
    // or current-valued tombstone mentions it
    g.update("mvb34", col("pk").isin(1L, 8L), "k" -> lit(9).cast("int"))
    g.delete("mvb34", col("pk").isin(1L, 8L))
    assert(g.refreshMaterializedView("mv34") == "partial")
    assert(sorted(spark.sql(q)) == direct(q),
      "old group must shed the moved-then-deleted rows")
    assert(spark.sql(q).filter(col("k") === 9).isEmpty,
      "the transient group never materializes a row")
    // …and a row updated OUT OF the predicate then deleted, on a
    // filtered view: the old-valued tombstone is the only witness
    g.sql("CREATE MATERIALIZED VIEW mv34f AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n FROM mvb34 WHERE cat = 'c0' GROUP BY k")
    val qf = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb34 " +
      "WHERE cat = 'c0' GROUP BY k"
    g.update("mvb34", col("pk").isin(3L, 33L), "cat" -> lit("cX"))
    g.delete("mvb34", col("pk").isin(3L, 33L))
    assert(g.refreshMaterializedView("mv34f") == "partial")
    assert(sorted(spark.sql(qf)) == direct(qf))
    g.dropTable("mvb34")
  }

  test("a DIRTY registration never serves and the next refresh rebuilds") {
    freshBase("mvb35", rows = 200)
    g.sql("CREATE MATERIALIZED VIEW mv35 AS SELECT k, sum(v) AS sv, " +
      "count(*) AS n FROM mvb35 GROUP BY k")
    val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb35 GROUP BY k"
    assert(usesMatView(q, "mv35"))
    // simulate the race outcome: content/fingerprint pairing unprovable
    // (refresh paths set this when racedMutation fires post-scan)
    MatViews.register(MatViews.get("mv35").get.copy(dirty = true))
    assert(!usesMatView(q, "mv35"),
      "a dirty view must not serve even with a matching fingerprint")
    assert(sorted(spark.sql(q)) == direct(q), "base scan answers meanwhile")
    assert(g.refreshMaterializedView("mv35") == "full",
      "dirty forces a rebuild even with no visible move")
    assert(usesMatView(q, "mv35"), "a clean rebuild serves again")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvb35")
  }

  test("star-schema view: update refresh from either side") {
    g.createTable("mvju_fact", spark.range(600).select(
      (col("id") % 30).as("fk"), (col("id") * 2).as("v")),
      partitionBy = Seq("fk"), buckets = 4)
    g.createTable("mvju_dim", spark.range(30).select(
      col("id").as("dk"), concat(lit("g"), col("id") % 5).as("grp")),
      partitionBy = Seq("dk"), buckets = 2)
    g.sql("CREATE MATERIALIZED VIEW mvju AS SELECT grp, sum(v) AS sv, " +
      "count(*) AS n FROM mvju_fact JOIN mvju_dim ON fk = dk GROUP BY grp")
    val q = "SELECT grp, sum(v) AS sv, count(*) AS n " +
      "FROM mvju_fact JOIN mvju_dim ON fk = dk GROUP BY grp"
    assert(usesMatView(q, "mvju"))
    // a dim ATTRIBUTE update moves whole fan-outs of fact rows between
    // groups: the old-valued dim rows ⋈ fact subtract, the new-valued
    // rows ⋈ fact add — including a group the view has never seen
    g.update("mvju_dim", col("dk") % 6 === 2, "grp" -> lit("gX"))
    assert(!usesMatView(q, "mvju"), "dim update must stale the view")
    assert(g.refreshMaterializedView("mvju") == "incremental_update")
    assert(usesMatView(q, "mvju"))
    assert(sorted(spark.sql(q)) == direct(q))
    assert(spark.sql(q).filter(col("grp") === "gX").count() == 1)
    // fact measure update: the same machinery from the other side
    g.update("mvju_fact", col("v") % 10 === 6, "v" -> (col("v") + 100))
    assert(g.refreshMaterializedView("mvju") == "incremental_update")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvju_fact"); g.dropTable("mvju_dim")
  }

  test("star-schema view: implicitly widened join keys (int = bigint) still match") {
    // the analyzer wraps the narrower key in a lossless upcast; the
    // SAME cast appears on the CREATE and the query side, so canonical
    // matching on the underlying columns is consistent — and upcasts
    // are injective, so cast-value equality is original-value equality
    g.createTable("mvj_wf", spark.range(300).select(
      (col("id") % 20).cast("int").as("wk"), col("id").as("v")))
    g.createTable("mvj_wd", spark.range(20).select(
      col("id").as("wd"), concat(lit("g"), col("id") % 5).as("grp")))
    g.sql("CREATE MATERIALIZED VIEW mvj_w AS SELECT grp, sum(v) AS sv, " +
      "count(*) AS n FROM mvj_wf JOIN mvj_wd ON wk = wd GROUP BY grp")
    val q = "SELECT grp, sum(v) AS sv FROM mvj_wf JOIN mvj_wd ON wk = wd GROUP BY grp"
    assert(usesMatView(q, "mvj_w"), "widened join keys must still match")
    assert(sorted(spark.sql(q)) == direct(q))
    g.insert("mvj_wf", spark.range(300, 360).select(
      (col("id") % 20).cast("int").as("wk"), col("id").as("v")))
    assert(g.refreshMaterializedView("mvj_w") == "incremental")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropTable("mvj_wf"); g.dropTable("mvj_wd")
  }

  test("rewrite fires under HAVING, ORDER BY, and inside a CTE") {
    // HAVING/ORDER sit ABOVE the Aggregate (Filter/Sort nodes), and a
    // CTE inlines — none of them may hide the Aggregate from the rule
    val q1 = "SELECT k, sum(v) AS sv FROM mvb1 GROUP BY k " +
      "HAVING sum(v) > 100 ORDER BY sv DESC"
    assert(usesMatView(q1, "mv1"), "HAVING/ORDER must not defeat the rewrite")
    assert(sorted(spark.sql(q1)) == direct(q1))
    val q2 = "WITH s AS (SELECT k, cat, sum(v) AS sv FROM mvb1 GROUP BY k, cat) " +
      "SELECT cat, max(sv) AS mx FROM s GROUP BY cat"
    assert(usesMatView(q2, "mv1"), "a CTE-wrapped aggregate must rewrite")
    assert(sorted(spark.sql(q2)) == direct(q2))
    // (scalar-subquery aggregates are not asserted here: subquery plans
    // execute outside the main plan tree, so the scan detector cannot
    // see them either way; the CORRECTNESS of a subquery answer is
    // already freshness-safe — either the base or a proven-fresh view)
  }

  test("star-schema view: ambiguous column names are refused at CREATE") {
    g.createTable("mvj_a", spark.range(10).select(col("id").as("ka"), col("id").as("x")))
    g.createTable("mvj_b", spark.range(10).select(col("id").as("kb"), col("id").as("x")))
    val e = intercept[Exception](g.sql("CREATE MATERIALIZED VIEW mvj_bad AS " +
      "SELECT mvj_a.x, count(*) AS n FROM mvj_a JOIN mvj_b ON ka = kb GROUP BY mvj_a.x"))
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    g.dropTable("mvj_a"); g.dropTable("mvj_b")
  }

  test("matviewAutoRefresh: one failing view neither fails the insert nor blocks siblings") {
    freshBase("mvb21", rows = 100)
    g.sql("CREATE MATERIALIZED VIEW mv21 AS SELECT k, sum(v) AS sv, count(*) AS n " +
      "FROM mvb21 GROUP BY k")
    // a corrupt registration whose refresh can only throw (its group
    // column does not exist on the base) — simulates any broken view
    MatViews.register(MatViews.MvDef("a_broken_mv21", "mvb21",
      Seq("no_such_col"), Seq(MatViews.MvAgg("count_star", "", "n")),
      "SELECT ...", MatViews.MvFreshness(Set(-1L), Map.empty)))
    spark.conf.set("spark.sql.graft.matviewAutoRefresh", "true")
    try {
      // sorts before mv21, so the failure path runs FIRST — the insert
      // must still commit and mv21 must still be maintained
      g.insert("mvb21", spark.range(100, 160).select(
        (col("id") % 7).cast("int").as("k"), lit("c0").as("cat"),
        (col("id") * 2).as("v"), lit(0.0).as("d"), col("id").as("nv")))
      val q = "SELECT k, sum(v) AS sv, count(*) AS n FROM mvb21 GROUP BY k"
      assert(spark.sql("SELECT count(*) AS c FROM mvb21").head().getLong(0) == 160L,
        "the insert must commit despite the failing refresh")
      assert(usesMatView(q, "mv21"), "sibling views must still be maintained")
      assert(sorted(spark.sql(q)) == direct(q))
    } finally {
      spark.conf.set("spark.sql.graft.matviewAutoRefresh", "false")
      MatViews.unregister("a_broken_mv21")
      g.dropTable("mvb21")
    }
  }

  test("multi-table append refresh composes telescopically; any mutation among the movers declines") {
    def mkFact(rows: Int): DataFrame = spark.range(rows).select(
      col("id").as("pk"), (col("id") % 50).as("ck"),
      (col("id") % 20).as("sk"), (col("id") * 3).as("v"))
    g.createTable("mvb40", mkFact(300), partitionBy = Seq("pk"), buckets = 4)
    g.createTable("mvd40", spark.range(40).select(col("id").as("dk"),
      concat(lit("s"), col("id") % 5).as("seg")),
      partitionBy = Seq("dk"), buckets = 4)
    g.createTable("mvd41", spark.range(20).select(col("id").as("nk"),
      concat(lit("n"), col("id") % 3).as("nat")),
      partitionBy = Seq("nk"), buckets = 4)
    g.sql("CREATE MATERIALIZED VIEW mv40 AS SELECT seg, nat, sum(v) AS sv, " +
      "count(*) AS n FROM mvb40 JOIN mvd40 ON ck = dk " +
      "JOIN mvd41 ON sk = nk GROUP BY seg, nat")
    val q = "SELECT seg, nat, sum(v) AS sv, count(*) AS n FROM mvb40 " +
      "JOIN mvd40 ON ck = dk JOIN mvd41 ON sk = nk " +
      "GROUP BY seg, nat"
    assert(usesMatView(q, "mv40"))
    // TWO movers (fact + one dim), third table carries: telescoped —
    // Δfact ⋈ recorded dims, then current fact ⋈ Δdim ⋈ recorded rest.
    // The new-fact×new-dim pairs (ck 40-49 × pk 300-399) land exactly once
    g.insert("mvb40", spark.range(300, 400).select(col("id").as("pk"),
      (col("id") % 50).as("ck"), (col("id") % 20).as("sk"), (col("id") * 3).as("v")))
    g.insert("mvd40", spark.range(40, 50).select(col("id").as("dk"),
      concat(lit("s"), col("id") % 5).as("seg")))
    assert(!usesMatView(q, "mv40"), "double append must stale the view")
    assert(g.refreshMaterializedView("mv40") == "incremental_multi")
    assert(usesMatView(q, "mv40"))
    assert(sorted(spark.sql(q)) == direct(q))
    // THREE movers: all append-only still composes
    g.insert("mvb40", spark.range(400, 440).select(col("id").as("pk"),
      (col("id") % 50).as("ck"), (col("id") % 20 + 20).as("sk"), (col("id") * 3).as("v")))
    g.insert("mvd40", spark.range(50, 55).select(col("id").as("dk"),
      concat(lit("s"), col("id") % 5).as("seg")))
    g.insert("mvd41", spark.range(20, 40).select(col("id").as("nk"),
      concat(lit("n"), col("id") % 3).as("nat")))
    assert(g.refreshMaterializedView("mv40") == "incremental_multi")
    assert(sorted(spark.sql(q)) == direct(q))
    // a MUTATION among several movers breaks the telescoping algebra:
    // append on the fact + delete on a dim → full rebuild
    g.insert("mvb40", spark.range(440, 460).select(col("id").as("pk"),
      (col("id") % 50).as("ck"), (col("id") % 40).as("sk"), (col("id") * 3).as("v")))
    g.delete("mvd40", col("dk") % 7 === 3)
    assert(g.refreshMaterializedView("mv40") == "full")
    assert(sorted(spark.sql(q)) == direct(q))
    // append on the fact + update on a dim → full rebuild
    g.insert("mvb40", spark.range(460, 470).select(col("id").as("pk"),
      (col("id") % 50).as("ck"), (col("id") % 40).as("sk"), (col("id") * 3).as("v")))
    g.update("mvd41", col("nk") % 5 === 1, "nat" -> lit("nX"))
    assert(g.refreshMaterializedView("mv40") == "full")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropMaterializedView("mv40")
    Seq("mvb40", "mvd40", "mvd41").foreach(g.dropTable)
  }

  test("global view: O(delta) append/delete/update waves and emptied-view semantics") {
    // bucketed by pk so a predicate-class delete never empties a batch
    g.createTable("mvb42", spark.range(500).select(
      col("id").as("pk"), (col("id") % 7).cast("int").as("k"),
      (col("id") * 2).as("v")),
      partitionBy = Seq("pk"), buckets = 4)
    g.sql("CREATE MATERIALIZED VIEW mv42 AS SELECT count(*) AS n, " +
      "sum(v) AS sv, avg(v) AS av FROM mvb42 WHERE k = 3")
    val q = "SELECT count(*) AS n, sum(v) AS sv, avg(v) AS av " +
      "FROM mvb42 WHERE k = 3"
    assert(usesMatView(q, "mv42"), "global view must serve the global query")
    assert(sorted(spark.sql(q)) == direct(q))
    // append → single-row fold
    g.insert("mvb42", spark.range(500, 600).select(col("id").as("pk"),
      (col("id") % 7).cast("int").as("k"), (col("id") * 2).as("v")))
    assert(!usesMatView(q, "mv42"))
    assert(g.refreshMaterializedView("mv42") == "incremental")
    assert(usesMatView(q, "mv42"))
    assert(sorted(spark.sql(q)) == direct(q))
    // delete → single-row subtract
    g.delete("mvb42", col("k") === 3 && col("pk") % 3 === 0)
    assert(g.refreshMaterializedView("mv42") == "incremental_delete")
    assert(sorted(spark.sql(q)) == direct(q))
    // update (measure scale + predicate crossing) → two-sided fold
    g.update("mvb42", col("pk") % 4 === 1, "v" -> (col("v") + 7))
    assert(g.refreshMaterializedView("mv42") == "incremental_update")
    assert(sorted(spark.sql(q)) == direct(q))
    // delete EVERY remaining predicate row (batches survive — other k
    // values keep them live): the stored row zeroes, the rewrite's
    // count mask turns it back into empty-input semantics (0, NULL, NULL)
    g.delete("mvb42", col("k") === 3)
    assert(g.refreshMaterializedView("mv42") == "incremental_delete")
    assert(usesMatView(q, "mv42"), "an emptied global view still serves")
    assert(sorted(spark.sql(q)) == direct(q))
    assert(spark.sql(q).head().getLong(0) == 0L)
    assert(spark.sql(q).head().isNullAt(1), "sum over no rows must be NULL")
    g.dropMaterializedView("mv42")
    g.dropTable("mvb42")
  }

  test("partial demotion: unclustered small base rebuilds, clustered keeps pruned partial, advisory surfaces") {
    import org.apache.spark.sql.graft.store.GraftStoreOps
    val df = spark.range(20000).select(col("id").as("pk"),
      (col("id") % 40).cast("int").as("gk"), (col("id") % 17).as("q"))
    g.createTable("mvb50", df, partitionBy = Seq("pk"), buckets = 4)
    // cluster by the ROW key: gk stays uniform per batch (the layout the
    // probe must prove unprunable), with a real batch list (~40 refs)
    GraftStoreOps.createIndex(spark, "mvb50", Seq("pk"), batchSize = 512)
    g.sql("CREATE MATERIALIZED VIEW mv50 AS SELECT gk, min(q) AS mn, " +
      "max(q) AS mx, count(*) AS n FROM mvb50 GROUP BY gk")
    val q = "SELECT gk, min(q) AS mn, max(q) AS mx, count(*) AS n " +
      "FROM mvb50 GROUP BY gk"
    // the advisory names the remedy while the layout can't prune
    def advice(): String = g.sysMatviews.filter(col("name") === "mv50")
      .head().getAs[String]("layout_advice")
    assert(advice().contains("CREATE INDEX"), advice())
    g.delete("mvb50", col("pk") % 10 === 3) // rows in EVERY group
    assert(g.refreshMaterializedView("mv50") == "full",
      "group-uniform layout + small base must demote the partial path")
    assert(sorted(spark.sql(q)) == direct(q))
    // the partial machinery stays reachable with the heuristic off
    g.delete("mvb50", col("pk") % 10 === 7)
    spark.conf.set("spark.sql.graft.matview.partialDemote.enabled", "false")
    try assert(g.refreshMaterializedView("mv50") == "partial")
    finally spark.conf.set("spark.sql.graft.matview.partialDemote.enabled", "true")
    assert(sorted(spark.sql(q)) == direct(q))
    // ABOVE the row cap the per-KEY probe still decides (≤64 touched
    // keys): an unprunable partial loses at EVERY scale, so with the
    // cap at 0 the uniform layout still demotes
    g.delete("mvb50", col("pk") % 10 === 9)
    spark.conf.set("spark.sql.graft.matview.partialDemote.maxBaseRows", "0")
    try assert(g.refreshMaterializedView("mv50") == "full",
      "the per-key probe's verdict must not be capped by base size")
    finally spark.conf.unset("spark.sql.graft.matview.partialDemote.maxBaseRows")
    assert(sorted(spark.sql(q)) == direct(q))
    // re-cluster by the GROUP column: the batch rewrite changes the
    // batch set (full once), then a one-group delete proves prunable and
    // the partial path STAYS — and the advisory clears
    GraftStoreOps.createIndex(spark, "mvb50", Seq("gk"), batchSize = 512)
    assert(g.refreshMaterializedView("mv50") == "full") // rewritten batch set
    assert(advice().isEmpty, advice())
    // gk=8 still has live rows (pk ≡ 8 mod 40 survived the waves); its
    // batches stay live — neighbours share them under the gk clustering
    g.delete("mvb50", col("gk") === 8)
    assert(g.refreshMaterializedView("mv50") == "partial",
      "clustered layout + one-group delete must keep the pruned partial")
    assert(sorted(spark.sql(q)) == direct(q))
    // STRADDLING key set {1, 38}: min/max bounds span nearly the whole
    // gk range (a bounds-only probe would call the layout unprunable
    // and demote) — the per-key probe proves ~90% of the clustered
    // batches contain neither key and keeps the pruned partial
    g.delete("mvb50", (col("gk") === 1 || col("gk") === 38) && col("pk") % 3 === 0)
    assert(g.refreshMaterializedView("mv50") == "partial",
      "straddling keys on a clustered layout must not demote (per-key probe)")
    assert(sorted(spark.sql(q)) == direct(q))
    g.dropMaterializedView("mv50")
    g.dropTable("mvb50")
  }

  test("global view: nullable measure or min/max declines subtraction to full") {
    freshBase("mvb43", rows = 300) // nv is NULLABLE
    g.sql("CREATE MATERIALIZED VIEW mv43 AS SELECT count(*) AS n, " +
      "sum(nv) AS snv FROM mvb43")
    g.delete("mvb43", col("k") === 2)
    assert(g.refreshMaterializedView("mv43") == "full",
      "nullable sum input cannot subtract")
    val q = "SELECT count(*) AS n, sum(nv) AS snv FROM mvb43"
    assert(usesMatView(q, "mv43"))
    assert(sorted(spark.sql(q)) == direct(q))
    g.sql("CREATE MATERIALIZED VIEW mv44 AS SELECT count(*) AS n, " +
      "min(v) AS mnv FROM mvb43")
    g.delete("mvb43", col("k") === 5)
    assert(g.refreshMaterializedView("mv44") == "full",
      "min cannot un-see a deleted value")
    assert(g.refreshMaterializedView("mv43") == "full")
    val q2 = "SELECT count(*) AS n, min(v) AS mnv FROM mvb43"
    assert(usesMatView(q2, "mv44"))
    assert(sorted(spark.sql(q2)) == direct(q2))
    // global APPEND folds for ANY aggregate mix (min/max merge fine)
    g.insert("mvb43", spark.range(300, 350).select(
      (col("id") % 7).cast("int").as("k"), concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 2).as("v"), (col("id") % 100).cast("double").as("d"),
      when(col("id") % 11 === 0, lit(null).cast("long")).otherwise(col("id")).as("nv")))
    assert(g.refreshMaterializedView("mv44") == "incremental")
    assert(sorted(spark.sql(q2)) == direct(q2))
    g.dropMaterializedView("mv43")
    g.dropMaterializedView("mv44")
    g.dropTable("mvb43")
  }
}
