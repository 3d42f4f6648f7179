package graft.queries

import graft.{GraftSession, QueryDef, Tables, dr2, dround}
import org.apache.spark.sql.functions._

/** DML / mutation semantics over GraftSession-managed column tables —
  * the reference's big differentiator vs stock Spark (SURVEY.md §2.9:
  * PutIntoTable / Update / Delete / Insert, ColumnTableBulkOps).
  *
  * Each query creates a managed table from driver parquet, applies the
  * mutation through the session API (copy-on-write snapshot swap), and
  * emits a deterministic projection of the final state; the DuckDB oracle
  * reconstructs the same final state relationally.
  */
object MutationQueries {

  /** A temp directory for a checkpoint or epoch root, deleted once `use`
    * returns — by then the restore or attach has copied it into the store.
    */
  private def withScratchRoot[T](prefix: String)(use: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try use(root.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- PUT INTO: key-matched rows replaced, new keys inserted ----
    QueryDef.sql(
      "q_put_into",
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         (sign(o_totalprice * 1.1) * floor(abs(o_totalprice * 1.1) * 100.0 + 0.5) / 100.0) AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 5 = 1),
        |merged AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM merged
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val orders = Tables.load(s, dir, "orders")
      g.createTable("t_put", orders, keyColumns = Seq("o_orderkey"),
        partitionBy = Seq("o_orderkey"), buckets = 8)
      val updates = orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", dr2(col("o_totalprice") * 1.1))
      val inserts = orders.filter(col("o_orderkey") % 5 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_orderstatus", lit("N"))
      g.putInto("t_put", updates.unionByName(inserts))
      g.table("t_put")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), graft.decSum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },

    // ---- UPDATE ... SET ... WHERE ----
    QueryDef.sql(
      "q_update",
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(CASE WHEN l_returnflag = 'R' THEN 0.0 ELSE l_discount END AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc,
        |  CAST(round(sum(CAST(CASE WHEN l_returnflag = 'R'
        |                 THEN (sign(l_extendedprice * 0.95) * floor(abs(l_extendedprice * 0.95) * 100.0 + 0.5) / 100.0)
        |                 ELSE l_extendedprice END AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("t_upd", Tables.load(s, dir, "lineitem"))
      g.update("t_upd", col("l_returnflag") === "R",
        "l_discount" -> lit(0.0),
        "l_extendedprice" -> dr2(col("l_extendedprice") * 0.95))
      g.table("t_upd")
        .groupBy("l_returnflag")
        .agg(graft.decSum(col("l_discount")).as("sum_disc"),
          graft.decSum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // ---- DELETE FROM ... WHERE ----
    QueryDef.sql(
      "q_delete",
      """SELECT l_linestatus, count(*) AS n,
        |  (sign(sum(l_quantity)) * floor(abs(sum(l_quantity)) * 100.0 + 0.5) / 100.0) AS sum_qty
        |FROM lineitem
        |WHERE NOT (l_quantity >= 40 AND l_returnflag = 'A')
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("t_del", Tables.load(s, dir, "lineitem"))
      g.delete("t_del", col("l_quantity") >= 40 && col("l_returnflag") === "A")
      g.table("t_del")
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), dr2(sum(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_linestatus")
    },

    // ---- INSERT INTO (append) ----
    QueryDef.sql(
      "q_insert",
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
        |FROM (SELECT * FROM customer
        |      UNION ALL
        |      SELECT c_custkey + 1000000, c_name, c_nationkey,
        |             (sign(c_acctbal / 2) * floor(abs(c_acctbal / 2) * 100.0 + 0.5) / 100.0), 'CLONED'
        |      FROM customer WHERE c_nationkey < 3) t
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val cust = Tables.load(s, dir, "customer")
      g.createTable("t_ins", cust)
      g.insert("t_ins", cust.filter(col("c_nationkey") < 3)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("c_acctbal", dr2(col("c_acctbal") / 2))
        .withColumn("c_mktsegment", lit("CLONED")))
      g.table("t_ins")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), graft.decSum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    },

    // ---- DSv2 column store: ingest + stats-skipped filtered scan ----
    QueryDef.sql(
      "q_column_store",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 2000
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
      // clustered ingest → tight batch stats, via the write path's
      // sort_by (requiredOrdering → a LOCAL per-partition sort). A global
      // orderBy would add a range EXCHANGE of the whole table before the
      // write — at 100 TB that shuffle dwarfs the write itself, while
      // batch-stats pruning only needs batches to be narrow, which a
      // partition-local sort already guarantees (PERF_NOTES §2: the
      // range exchange alone cost more than the whole store write).
      Tables.load(s, dir, "lineitem")
        .write.format(fmt).option("table", "q_cs").option("batch_size", "4096")
        .option("sort_by", "l_orderkey")
        .mode("overwrite").save()
      s.read.format(fmt).option("table", "q_cs").load()
        .filter(col("l_orderkey").between(1000, 2000))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), graft.decSum(col("l_extendedprice")).as("total"))
        .orderBy("l_returnflag")
    },

    // ---- DSv2 column store with DECIMAL columns: scaled-long encoding,
    // decimal batch stats, decimal filter — asserts NO cached-DF fallback
    // (the money-type path a real schema hits first). Source doubles are
    // exact 2-decimal values, so the decimal cast is representation-exact
    // in both engines and the sums compare exactly ----
    QueryDef.sql(
      "q_column_store_decimal",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  CAST(min(CAST(l_discount AS DECIMAL(4,3))) AS DOUBLE) AS min_disc,
        |  CAST(max(CAST(l_discount AS DECIMAL(4,3))) AS DOUBLE) AS max_disc
        |FROM lineitem
        |WHERE CAST(l_extendedprice AS DECIMAL(12,2)) > CAST(50000.00 AS DECIMAL(12,2))
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val dec = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(12,2)").as("price"),
          col("l_discount").cast("decimal(4,3)").as("disc"))
      g.createTable("t_dec", dec)
      require(g.isStoreBacked("t_dec"),
        "decimal schema must land in the graftstore, not the cached-DF fallback")
      g.table("t_dec")
        .filter(col("price") > lit(BigDecimal("50000.00")).cast("decimal(12,2)"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("total"),
          min(col("disc")).cast("double").as("min_disc"),
          max(col("disc")).cast("double").as("max_disc"))
        .orderBy("l_returnflag")
    },

    // ---- DSv2 column store with MAP/STRUCT/nested-array columns
    // (reference ComplexTypeSerializerImpl): complex values roundtrip
    // through the store's batch builders and recursive vector writers;
    // the oracle checks EXTRACTIONS of every container, which inverts the
    // construction — so a value lost or misaligned anywhere in the
    // encode/decode path breaks the hash ----
    QueryDef.sql(
      "q_column_store_complex",
      """SELECT o_orderkey,
        |  o_custkey AS meta_ck,
        |  o_orderstatus AS meta_st,
        |  (sign(o_totalprice) * floor(abs(o_totalprice) * 100.0 + 0.5) / 100.0) AS prio_val,
        |  (sign(o_totalprice * 2) * floor(abs(o_totalprice * 2) * 100.0 + 0.5) / 100.0) AS arr_p2
        |FROM orders
        |WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val src = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          struct(col("o_custkey").as("ck"), col("o_orderstatus").as("st")).as("meta"),
          map(col("o_orderpriority"), col("o_totalprice")).as("prio_price"),
          array(struct(col("o_totalprice").as("p"),
            (col("o_totalprice") * 2).as("p2"))).as("price_rows"))
      g.createTable("t_complex", src)
      require(g.isStoreBacked("t_complex"),
        "map/struct schema must land in the graftstore, not the cached-DF fallback")
      g.table("t_complex").select(
          col("o_orderkey"),
          col("meta.ck").as("meta_ck"),
          col("meta.st").as("meta_st"),
          dr2(element_at(col("prio_price"), col("o_orderpriority"))).as("prio_val"),
          dr2(col("price_rows").getItem(0).getField("p2")).as("arr_p2"))
        .orderBy("o_orderkey")
    },

    // ---- point lookup on the bucketed key: scans exactly the buckets
    // the keys hash to (reference PRIMARY-KEY lookup → one bucket region);
    // GraftStoreSpec asserts the pruning, the oracle the values ----
    QueryDef.sql(
      "q_point_lookup",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 2, 3)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("t_pt", Tables.load(s, dir, "orders"),
        keyColumns = Seq("o_orderkey"), partitionBy = Seq("o_orderkey"), buckets = 16)
      g.table("t_pt").filter(col("o_orderkey").isin(1L, 2L, 3L))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ---- colocated join through the catalog: two tables bucketed the
    // same way join via storage-partitioned join (no input exchange —
    // property proven in ColocationSpec; here the surface is graded
    // end-to-end through `graft.<table>` identifiers) ----
    QueryDef.sql(
      "q_colocated_join",
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("co_ord", Tables.load(s, dir, "orders"),
        partitionBy = Seq("o_custkey"), buckets = 8)
      g.createTable("co_cust", Tables.load(s, dir, "customer"),
        partitionBy = Seq("c_custkey"), buckets = 8)
      s.table("graft.co_ord")
        .join(s.table("graft.co_cust"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), graft.decSum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    },

    // ---- row table: PK point lookup resolves by index probe (reference
    // RowFormatRelation + GemFire region get; RowTableSpec proves the
    // single-probe-partition plan, the oracle the values) ----
    QueryDef.sql(
      "q_row_point_lookup",
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer WHERE c_custkey IN (10, 20, 30)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("t_rowpt", Tables.load(s, dir, "customer"),
        keyColumns = Seq("c_custkey"), partitionBy = Seq("c_custkey"),
        buckets = 16, provider = "row")
      g.table("t_rowpt").filter(col("c_custkey").isin(10L, 20L, 30L))
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // ---- row table secondary index (reference createIndex:1760): a
    // range predicate on the indexed column prunes packs via driver-side
    // (min,max) stats and binary-searches the survivors' sorted-slot
    // arrays — RowTableSpec proves the pruning telemetry, the oracle the
    // values. Range-partitioned ingest gives the stats pruning power ----
    QueryDef.sql(
      "q_row_range_lookup",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > 50000 AND o_totalprice <= 80000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("t_rowrange",
        Tables.load(s, dir, "orders").repartitionByRange(16, col("o_totalprice")),
        provider = "row")
      g.sql("CREATE INDEX t_rowrange_price ON t_rowrange (o_totalprice)")
      g.table("t_rowrange")
        .filter(col("o_totalprice") > 50000.0 && col("o_totalprice") <= 80000.0)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ---- row table DML: update + delete + PK upsert compose (every op
    // is an index-probe tombstone + append — O(delta), never O(table)) ----
    QueryDef.sql(
      "q_row_table_dml",
      """WITH upd AS (
        |  SELECT s_suppkey, s_name, s_nationkey,
        |    CASE WHEN s_nationkey < 10 THEN (sign(s_acctbal + 100) * floor(abs(s_acctbal + 100) * 100.0 + 0.5) / 100.0)
        |         ELSE s_acctbal END AS s_acctbal
        |  FROM supplier),
        |del AS (SELECT * FROM upd WHERE s_acctbal >= 0),
        |put AS (SELECT s_suppkey, s_name, s_nationkey, 0.0 AS s_acctbal
        |        FROM supplier WHERE s_suppkey % 7 = 0),
        |merged AS (
        |  SELECT * FROM del
        |  WHERE s_suppkey NOT IN (SELECT s_suppkey FROM put)
        |  UNION ALL SELECT * FROM put)
        |SELECT s_suppkey, s_name, s_nationkey, (sign(s_acctbal) * floor(abs(s_acctbal) * 100.0 + 0.5) / 100.0) AS bal
        |FROM merged ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val supp = Tables.load(s, dir, "supplier")
      g.createTable("t_rowdml", supp, keyColumns = Seq("s_suppkey"),
        partitionBy = Seq("s_suppkey"), buckets = 8, provider = "row")
      g.update("t_rowdml", col("s_nationkey") < 10,
        "s_acctbal" -> dr2(col("s_acctbal") + 100))
      g.delete("t_rowdml", col("s_acctbal") < 0)
      g.putInto("t_rowdml", supp.filter(col("s_suppkey") % 7 === 0)
        .withColumn("s_acctbal", lit(0.0)))
      g.table("t_rowdml")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          dr2(col("s_acctbal")).as("bal"))
        .orderBy("s_suppkey")
    },

    // ---- mutation pipeline: put + update + delete compose correctly ----
    QueryDef.sql(
      "q_mutation_pipeline",
      """WITH upd AS (
        |  SELECT s_suppkey, s_name, s_nationkey,
        |    CASE WHEN s_nationkey < 10 THEN (sign(s_acctbal + 100) * floor(abs(s_acctbal + 100) * 100.0 + 0.5) / 100.0)
        |         ELSE s_acctbal END AS s_acctbal
        |  FROM supplier)
        |SELECT s_suppkey, s_name, (sign(s_acctbal) * floor(abs(s_acctbal) * 100.0 + 0.5) / 100.0) AS bal
        |FROM upd
        |WHERE s_acctbal >= 0
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("t_pipe", Tables.load(s, dir, "supplier"),
        keyColumns = Seq("s_suppkey"))
      g.update("t_pipe", col("s_nationkey") < 10,
        "s_acctbal" -> dr2(col("s_acctbal") + 100))
      g.delete("t_pipe", col("s_acctbal") < 0)
      g.table("t_pipe")
        .select(col("s_suppkey"), col("s_name"), dr2(col("s_acctbal")).as("bal"))
        .orderBy("s_suppkey")
    },

    // ---- dictionary-code join (DictJoin): the reference's
    // DictionaryOptimizedMapAccessor mechanism, oracle-checked — the
    // store's dict-encoded priority column joins a 5-row dimension with
    // build-map lookups memoized per (batch, dictionary code). The
    // oracle replays the identical join relationally ----
    QueryDef.sql(
      "q_dict_join",
      """SELECT d.label, count(*) AS n,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(sum(d.rank) AS BIGINT) AS rank_mass
        |FROM orders o
        |JOIN (VALUES ('1-URGENT', 1, 'hot'), ('2-HIGH', 2, 'warm'),
        |             ('3-MEDIUM', 3, 'mid'), ('4-NOT SPECIFIED', 4, 'meh'),
        |             ('5-LOW', 5, 'cold')) AS d(prio, rank, label)
        |  ON o.o_orderpriority = d.prio
        |GROUP BY d.label
        |ORDER BY d.label""".stripMargin) { (s, dir) =>
      val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
      Tables.load(s, dir, "orders")
        .write.format(fmt).option("table", "q_dj").option("batch_size", "4096")
        .mode("overwrite").save()
      import s.implicits._
      val dim = Seq(
        ("1-URGENT", 1, "hot"), ("2-HIGH", 2, "warm"), ("3-MEDIUM", 3, "mid"),
        ("4-NOT SPECIFIED", 4, "meh"), ("5-LOW", 5, "cold"))
        .toDF("prio", "rank", "label")
      org.apache.spark.sql.graft.store.DictJoin
        .dictJoin(s, "q_dj", "o_orderpriority", dim, "prio")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), graft.decSum(col("o_totalprice")).as("total"),
          sum(col("rank")).cast("bigint").as("rank_mass"))
        .orderBy("label")
    },

    // ---- LEFT OUTER dictionary-code join: a PARTIAL dimension (3 of 5
    // priorities) — unmatched probe rows null-extend and land in the
    // NULL-label group, which the oracle replays with a relational
    // LEFT JOIN ----
    QueryDef.sql(
      "q_dict_join_outer",
      """SELECT d.label, count(*) AS n,
        |  CAST(sum(d.rank) AS BIGINT) AS rank_mass
        |FROM orders o
        |LEFT JOIN (VALUES ('1-URGENT', 1, 'hot'), ('3-MEDIUM', 3, 'mid'),
        |                  ('5-LOW', 5, 'cold')) AS d(prio, rank, label)
        |  ON o.o_orderpriority = d.prio
        |GROUP BY d.label
        |ORDER BY d.label NULLS FIRST""".stripMargin) { (s, dir) =>
      val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
      Tables.load(s, dir, "orders")
        .write.format(fmt).option("table", "q_djo").option("batch_size", "4096")
        .mode("overwrite").save()
      import s.implicits._
      val dim = Seq(("1-URGENT", 1, "hot"), ("3-MEDIUM", 3, "mid"),
        ("5-LOW", 5, "cold")).toDF("prio", "rank", "label")
      org.apache.spark.sql.graft.store.DictJoin
        .dictJoin(s, "q_djo", "o_orderpriority", dim, "prio", joinType = "left_outer")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum(col("rank")).cast("bigint").as("rank_mass"))
        .orderBy(col("label").asc_nulls_first)
    },

    // ---- dict-join composed with dict-grouping end-to-end
    // (dictJoinAgg): the aggregate commutes through the unique-key
    // dimension join, so the group-by runs ON the scan (code-indexed
    // under the pushdown) and the dimension joins the per-group result.
    // The oracle replays join-then-group — the semantics the reorder
    // must preserve ----
    QueryDef.sql(
      "q_dict_join_agg",
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  d.rank, d.label
        |FROM orders o
        |JOIN (VALUES ('1-URGENT', 1, 'hot'), ('2-HIGH', 2, 'warm'),
        |             ('3-MEDIUM', 3, 'mid'), ('4-NOT SPECIFIED', 4, 'meh'),
        |             ('5-LOW', 5, 'cold')) AS d(prio, rank, label)
        |  ON o.o_orderpriority = d.prio
        |GROUP BY o.o_orderpriority, d.rank, d.label
        |ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
      val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
      Tables.load(s, dir, "orders")
        .write.format(fmt).option("table", "q_dja").option("batch_size", "4096")
        .mode("overwrite").save()
      import s.implicits._
      val dim = Seq(
        ("1-URGENT", 1, "hot"), ("2-HIGH", 2, "warm"), ("3-MEDIUM", 3, "mid"),
        ("4-NOT SPECIFIED", 4, "meh"), ("5-LOW", 5, "cold"))
        .toDF("prio", "rank", "label")
      org.apache.spark.sql.graft.store.DictJoin
        .dictJoinAgg(s, "q_dja", "o_orderpriority", dim, "prio",
          Seq(count(lit(1)).as("n"), graft.decSum(col("o_totalprice")).as("total")))
        .orderBy("o_orderpriority")
    },

    // ---- dictionary-optimized grouping through the driver gate: the
    // DSv2 partial-agg pushdown accumulates per batch into code-indexed
    // slots; the oracle replays the plain GROUP BY. The conf is scoped
    // to this row (pushdown fires at execution, so the tiny grouped
    // result is materialized inside the scope and re-wrapped — 5 rows,
    // metadata scale) ----
    QueryDef.sql(
      "q_dict_group",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
      Tables.load(s, dir, "orders")
        .write.format(fmt).option("table", "q_dg").option("batch_size", "4096")
        .mode("overwrite").save()
      s.conf.set("spark.sql.graft.aggPushdown", "true")
      try {
        val grouped = s.read.format(fmt).option("table", "q_dg").load()
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), graft.decSum(col("o_totalprice")).as("total"))
          .orderBy("o_orderpriority")
        val rows = grouped.collect()
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toIndexedSeq, 1), grouped.schema)
      } finally s.conf.unset("spark.sql.graft.aggPushdown")
    },

    // ---- LZ4-compressed store through the driver gate: sealed columns
    // deflate at rest, scans inflate transiently, deltas stay raw — a
    // mutation on the compressed table must still produce the exact
    // relational answer ----
    QueryDef.sql(
      "q_lz4_roundtrip",
      """SELECT s_nationkey, count(*) AS n,
        |  (sign(sum(s_acctbal)) * floor(abs(sum(s_acctbal)) * 100.0 + 0.5) / 100.0) AS bal
        |FROM supplier
        |WHERE s_acctbal >= 0
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("q_lz4", Tables.load(s, dir, "supplier"),
        keyColumns = Seq("s_suppkey"), compression = "lz4")
      g.delete("q_lz4", col("s_acctbal") < 0)
      g.table("q_lz4")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), dr2(sum(col("s_acctbal"))).as("bal"))
        .orderBy("s_nationkey")
    },

    // ---- LRU eviction + disk overflow through the driver gate: a
    // 32 KB budget forces most batches to the spilled tier; the scan
    // faults them back transiently and the answer is exact ----
    QueryDef.sql(
      "q_evicted_scan",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("q_evict", Tables.load(s, dir, "orders"),
        evictionBudgetBytes = 32 * 1024)
      g.table("q_evict")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), graft.decSum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },

    // ---- checkpoint/restore through the driver gate: snapshot the
    // table, mutate it, restore — the restored state must be the
    // PRE-mutation relation, which is what the oracle computes ----
    QueryDef.sql(
      "q_checkpoint_restore",
      """SELECT s_nationkey, count(*) AS n
        |FROM supplier
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.createTable("q_ckpt", Tables.load(s, dir, "supplier"),
        keyColumns = Seq("s_suppkey"))
      withScratchRoot("graft_q_ckpt") { ckDir =>
        g.checkpointTable("q_ckpt", ckDir)
        g.delete("q_ckpt", col("s_nationkey") >= 0) // empty it
        g.restoreTable("q_ckpt", ckDir)
      }
      g.table("q_ckpt")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"))
        .orderBy("s_nationkey")
    },

    // ---- connector-mode serving e2e (reference connector_mode.md;
    // LiveCheckpoint + GraftSession.publishTable/attachTable): the
    // publisher ingests + mutates + publishes TWO epochs; the reader
    // attaches the newest committed epoch under its own name and serves
    // the query from the ATTACHED copy. Publish + attach are the
    // amortized serving setup, once per (JVM, dir) — the timed body is
    // the query over the attached table (the two-JVM concurrency proof
    // is tools/live_store_serve.sh; this row oracle-gates the epoch
    // content: the answer must reflect the SECOND epoch's mutations) ----
    QueryDef.sql(
      "q_live_attach",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)) * 10000) AS BIGINT) AS total_e4
        |FROM orders
        |WHERE o_orderkey % 10 <> 3
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val sx = (dir.hashCode & 0x7fffffff).toString
      val (pub, srv) = (s"live_pub_$sx", s"live_srv_$sx")
      if (!g.isManaged(srv)) {
        g.createTable(pub, Tables.load(s, dir, "orders"),
          partitionBy = Seq("o_orderkey"), buckets = 8)
        withScratchRoot(s"graft_live_$sx") { root =>
          g.publishTable(pub, root) // epoch 0: pristine
          g.delete(pub, col("o_orderkey") % 10 === 3)
          g.publishTable(pub, root) // epoch 1: post-delete
          g.attachTable(srv, root)
        }
      }
      g.table(srv)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)") * 10000)
            .cast("long").as("total_e4"))
        .orderBy("o_orderstatus")
    },

    // ---- incremental connector-mode serving: same protocol as
    // q_live_attach but epochs publish at O(delta) — epoch 0 dumps
    // every batch into shared payload files, epoch 1 re-dumps ONLY the
    // batches the delete touched and references the rest (the 100 TB
    // publish shape; IncrementalPublishSpec pins the reuse/GC
    // mechanics, this row oracle-gates the served content). Publish +
    // attach amortized per (JVM, dir); timed body = the query ----
    QueryDef.sql(
      "q_live_attach_inc",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)) * 10000) AS BIGINT) AS total_e4
        |FROM orders
        |WHERE o_orderkey % 7 <> 2
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val sx = (dir.hashCode & 0x7fffffff).toString
      val (pub, srv) = (s"linc_pub_$sx", s"linc_srv_$sx")
      if (!g.isManaged(srv)) {
        g.createTable(pub, Tables.load(s, dir, "orders"),
          partitionBy = Seq("o_orderkey"), buckets = 8)
        withScratchRoot(s"graft_linc_$sx") { root =>
          g.publishTable(pub, root, incremental = true) // epoch 0: all batches
          g.delete(pub, col("o_orderkey") % 7 === 2)
          g.publishTable(pub, root, incremental = true) // epoch 1: touched only
          g.attachTable(srv, root)
        }
      }
      g.table(srv)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)") * 10000)
            .cast("long").as("total_e4"))
        .orderBy("o_orderpriority")
    },

    // ---- zero-copy serving + dataset time travel: the reader attaches
    // a VIEW (no store copy — O(manifest) attach over the epoch's
    // payload parquet) PINNED to epoch 0, while the publisher has
    // already deleted rows and published epoch 1. The oracle is the
    // PRISTINE table: epochs are immutable, so the pinned view must
    // keep answering pre-mutation — the reproducible-training-input
    // story. Setup amortized per (JVM, dir); timed body = the query ----
    QueryDef.sql(
      "q_live_attach_view",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)) * 10000) AS BIGINT) AS total_e4
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val sx = (dir.hashCode & 0x7fffffff).toString
      val (pub, srv) = (s"lview_pub_$sx", s"lview_srv_$sx")
      if (!g.isManaged(srv)) {
        g.createTable(pub, Tables.load(s, dir, "orders"),
          partitionBy = Seq("o_orderkey"), buckets = 8)
        val root = java.nio.file.Files.createTempDirectory(s"graft_lview_$sx")
        g.publishTable(pub, root.toString, incremental = true) // epoch 0: pristine
        g.delete(pub, col("o_orderkey") % 5 === 1)
        g.publishTable(pub, root.toString, incremental = true) // epoch 1: post-delete
        g.attachView(srv, root.toString, epoch = Some(0L), verify = true)
        // the view reads the epoch files for the JVM's lifetime
        org.apache.commons.io.FileUtils.forceDeleteOnExit(root.toFile)
      }
      g.table(srv)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)") * 10000)
            .cast("long").as("total_e4"))
        .orderBy("o_orderstatus")
    },

    // ---- MERGE INTO (the canonical upsert through SQL): matched keys
    // update in place, unmatched source rows insert — the oracle replays
    // the upsert relationally (source wins per key, remainder kept) ----
    QueryDef.sql(
      "q_merge_upsert",
      """WITH src AS (
        |  SELECT s_suppkey, s_name, s_nationkey,
        |    (sign(s_acctbal + 1000) * floor(abs(s_acctbal + 1000) * 100.0 + 0.5) / 100.0) AS s_acctbal
        |  FROM supplier WHERE s_suppkey % 4 = 1
        |  UNION ALL
        |  SELECT s_suppkey + 100000, s_name, s_nationkey, 555.55
        |  FROM supplier WHERE s_suppkey % 10 = 3)
        |SELECT s_suppkey, s_name,
        |  (sign(s_acctbal) * floor(abs(s_acctbal) * 100.0 + 0.5) / 100.0) AS bal
        |FROM (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
        |  WHERE s_suppkey NOT IN (SELECT s_suppkey FROM src)) u
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      val supp = Tables.load(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      g.createTable("q_mrg", supp, keyColumns = Seq("s_suppkey"),
        partitionBy = Seq("s_suppkey"), buckets = 4)
      val src = supp.filter(col("s_suppkey") % 4 === 1)
        .withColumn("s_acctbal", dr2(col("s_acctbal") + 1000))
        .unionByName(supp.filter(col("s_suppkey") % 10 === 3)
          .withColumn("s_suppkey", col("s_suppkey") + 100000)
          .withColumn("s_acctbal", lit(555.55)))
      src.createOrReplaceTempView("q_mrg_src")
      s.sql("MERGE INTO q_mrg USING q_mrg_src " +
        "ON q_mrg.s_suppkey = q_mrg_src.s_suppkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      g.table("q_mrg")
        .select(col("s_suppkey"), col("s_name"), dr2(col("s_acctbal")).as("bal"))
        .orderBy("s_suppkey")
    },

    // ---- LEFT SEMI dictionary-code join: the EXISTS-filter dimension
    // shape — membership memoized per (batch, code), each probe row
    // emitted at most once even though the dimension carries a DUPLICATE
    // key. The oracle replays it as EXISTS ----
    QueryDef.sql(
      "q_dict_join_semi",
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM (VALUES ('1-URGENT'), ('1-URGENT'), ('3-MEDIUM')) AS d(prio)
        |  WHERE d.prio = o.o_orderpriority)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
      val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
      Tables.load(s, dir, "orders")
        .write.format(fmt).option("table", "q_djs").option("batch_size", "4096")
        .mode("overwrite").save()
      import s.implicits._
      val dim = Seq("1-URGENT", "1-URGENT", "3-MEDIUM").toDF("prio")
      org.apache.spark.sql.graft.store.DictJoin
        .dictJoin(s, "q_djs", "o_orderpriority", dim, "prio", joinType = "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), graft.decSum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },

    // ---- LEFT ANTI dictionary-code join: the NOT-EXISTS complement
    // over the same partial dimension — the memoized existence probe
    // inverted, null keys would survive (none in this data, the spec
    // covers that row shape) ----
    QueryDef.sql(
      "q_dict_join_anti",
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (VALUES ('1-URGENT'), ('3-MEDIUM')) AS d(prio)
        |  WHERE d.prio = o.o_orderpriority)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
      val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
      Tables.load(s, dir, "orders")
        .write.format(fmt).option("table", "q_djan").option("batch_size", "4096")
        .mode("overwrite").save()
      import s.implicits._
      val dim = Seq("1-URGENT", "3-MEDIUM").toDF("prio")
      org.apache.spark.sql.graft.store.DictJoin
        .dictJoin(s, "q_djan", "o_orderpriority", dim, "prio", joinType = "left_anti")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), graft.decSum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },

    // ---- row-table constraints (reference create-table.md:346-364):
    // the full surface enforced on one insert — GENERATED BY DEFAULT
    // identity block fill (gap-free per statement), implicit-NOT-NULL
    // PK, NOT NULL, CHECK, UNIQUE, and a FOREIGN KEY into a row-table
    // parent. The oracle replays the identity arithmetic: n rows omitted
    // from the identity column receive exactly {1000 + 7k : k < n} ----
    QueryDef.sql(
      "q_constraints_identity",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(1000 AS BIGINT) AS min_id,
        |  CAST(1000 + (count(*) - 1) * 7 AS BIGINT) AS max_id,
        |  CAST(count(*) * 1000 + 7 * (count(*) * (count(*) - 1) / 2) AS BIGINT) AS sum_id
        |FROM supplier""".stripMargin) { (s, dir) =>
      val g = GraftSession(s)
      g.sql("CREATE TABLE q_con_nat (n_nationkey int primary key, " +
        "n_name string, n_regionkey int) USING row")
      g.insert("q_con_nat", Tables.load(s, dir, "nation"))
      g.sql("CREATE TABLE q_con_sup (" +
        "sid bigint generated by default as identity (start with 1000, increment by 7), " +
        "s_suppkey bigint not null, s_name string not null, s_nationkey int, " +
        "s_acctbal double check (s_acctbal > -999999999.0), " +
        "constraint uq_sk unique (s_suppkey), " +
        "constraint fk_nat foreign key (s_nationkey) references q_con_nat (n_nationkey), " +
        "primary key (sid)) USING row")
      // identity column omitted entirely: every row draws from the block
      g.insert("q_con_sup", Tables.load(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
      g.table("q_con_sup").agg(
        count(lit(1)).as("n"),
        min(col("sid")).as("min_id"),
        max(col("sid")).as("max_id"),
        sum(col("sid")).as("sum_id"))
    }
  )
}
