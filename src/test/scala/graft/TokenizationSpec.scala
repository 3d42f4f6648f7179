package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{ExplainUtils, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParamLiteral

/** Literal-tokenization parity (the rebuild of the reference's
  * TokenizationTest / TPCHDUnitTest:690-705): the reference tokenizes
  * literals (ParamLiteral) so the same query text with different
  * constants reuses one cached plan and one compiled class. Two halves:
  *  - plan shape: Spark 3.4+ parameterized SQL — `spark.sql(text, args)` —
  *    parses the TEXT once to a literal-free parameterized plan, and
  *    values bind at analysis (determinism across repeats, correctness
  *    across bindings, a literal-independent optimized plan shape);
  *  - generated code: the `ParamLiterals` physical rule keeps comparison
  *    operands out of the Java source, so a new point-lookup key reuses
  *    the compiled class (no Janino run), with answers, EXPLAIN text and
  *    exchange reuse unchanged.
  */
class TokenizationSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def normalized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case l: Literal => Literal(0L) // erase the bound constants
    }.canonicalized.toString

  test("parameterized query: same args twice → identical result; plan shape literal-free") {
    Tables.registerAll(spark, sf)
    val text = """SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total
                 |FROM orders
                 |WHERE o_totalprice < :cap AND o_custkey > :minCust
                 |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

    def run(cap: Double, minCust: Long) =
      spark.sql(text, Map("cap" -> cap, "minCust" -> minCust))

    val r1 = run(100000.0, 10L).collect().toSeq
    val r2 = run(100000.0, 10L).collect().toSeq
    assert(r1 == r2, "same bindings must reproduce identical results")

    val r3 = run(500000.0, 0L).collect().toSeq
    assert(r3 != r1, "different bindings must actually rebind")
    // cross-check one binding against the directly-inlined query
    val direct = spark.sql(
      "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM orders " +
        "WHERE o_totalprice < 100000.0 AND o_custkey > 10 " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority").collect().toSeq
    assert(r1 == direct)

    // the tokenization property itself: with literals erased, both
    // bindings optimize to the SAME plan — the cache-key invariant the
    // reference's ParamLiteral machinery exists to provide
    val shapeA = normalized(run(100000.0, 10L))
    val shapeB = normalized(run(73000.5, 42L))
    assert(shapeA == shapeB, s"plan shape must not depend on literal values:\n$shapeA\nvs\n$shapeB")
  }

  test("positional parameters and IN-list binding") {
    Tables.registerAll(spark, sf)
    val byFlag = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_returnflag = ? AND l_quantity > ?",
      Array("R", 10))
    val n = byFlag.head().getLong(0)
    val expected = Tables.load(spark, sf, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_quantity") > 10).count()
    assert(n == expected)
  }

  /** Janino compiles so far; the histogram only ticks on a cache miss. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    collectWithSubqueries(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case p: ParamLiteral => p })

  test("a point lookup with a different key adds no compile (column and row table)") {
    val g = GraftSession(spark)
    g.createTable("tk_orders", Tables.load(spark, sf, "orders"),
      keyColumns = Seq("o_orderkey"), partitionBy = Seq("o_orderkey"), buckets = 4)
    g.createTable("tk_cust", Tables.load(spark, sf, "customer"),
      keyColumns = Seq("c_custkey"), provider = "row")
    try {
      val lookups = Seq(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM graft.tk_orders WHERE o_orderkey = " ->
          Seq(1L, 7L),
        "SELECT c_custkey, c_name, c_acctbal FROM graft.tk_cust WHERE c_custkey = " ->
          Seq(3L, 42L))
      for ((text, Seq(first, second)) <- lookups) {
        def lookup(k: Long) = {
          val df = spark.sql(text + k)
          val rows = df.collect()
          assert(rows.map(_.getLong(0)).toSeq == Seq(k), s"$text$k")
          assert(params(df.queryExecution.executedPlan).nonEmpty, s"no ParamLiteral in $text$k")
        }
        lookup(first) // compiles the plan's classes once
        val before = compiles
        lookup(second)
        assert(compiles - before == 0, s"a new key recompiled: $text$second")
      }
    } finally {
      g.dropTable("tk_orders")
      g.dropTable("tk_cust")
    }
  }

  test("filters and projections on every rewritten type match the interpreted path") {
    spark.range(0, 64, 1, 4).selectExpr(
      "id",
      "id % 3 = 0 AS b",
      "CAST(id AS TINYINT) AS y",
      "CAST(id * 3 AS SMALLINT) AS s",
      "CAST(id * 5 AS INT) AS i",
      "id * 1000000007 AS l",
      "CAST(id / 4.0 AS FLOAT) AS f",
      "id * 1.25D AS d",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS dt",
      "timestamp_seconds(1704067200 + id * 3600) AS ts",
      "CAST(timestamp_seconds(1704067200 + id * 60) AS TIMESTAMP_NTZ) AS ntz",
      "make_ym_interval(0, CAST(id AS INT)) AS ym",
      "make_dt_interval(CAST(id AS INT)) AS dti"
    ).createOrReplaceTempView("tk_types")
    val filters = Seq(
      "b = true", "y = 7Y", "s > 150S", "i <= 40", "l = 30000000210L", "f < 2.5F",
      "d >= 60.0D", "dt = DATE'2024-01-11'", "ts > TIMESTAMP'2024-01-02 12:00:00'",
      "ntz < TIMESTAMP_NTZ'2024-01-01 00:30:00'", "ym = INTERVAL '1-2' YEAR TO MONTH",
      "dti > INTERVAL '50' DAY",
      "i IN (5, 55, 100)", "dt IN (DATE'2024-01-03', DATE'2024-02-01')",
      "l BETWEEN 10000000070 AND 20000000140", "d BETWEEN 2.5 AND 10.0")
    val queries =
      filters.map(f => s"SELECT id FROM tk_types WHERE $f") :+
        ("SELECT id, i > 40 AS p1, l IN (0, 1000000007) AS p2, f < 1.0 AS p3, " +
          "dt <= DATE'2024-01-05' AS p4 FROM tk_types")
    def answer(q: String) = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val expected = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(queries.map(answer))
    queries.zip(expected).foreach { case (q, want) =>
      val df = spark.sql(q)
      assert(df.collect().map(_.toString).sorted.toSeq == want, q)
      assert(want.nonEmpty && want.size < 64 || q.startsWith("SELECT id, "), s"trivial answer: $q")
      assert(params(df.queryExecution.executedPlan).nonEmpty, s"no ParamLiteral in $q")
    }
  }

  test("UNION ALL of filters differing only in a literal keeps both halves") {
    spark.range(0, 1000, 1, 4).createOrReplaceTempView("tk_range")
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      val got = spark.sql(
        "SELECT count(*) FROM tk_range WHERE id < 100 UNION ALL " +
          "SELECT count(*) FROM tk_range WHERE id < 300").collect().map(_.getLong(0))
      assert(got.sorted.toSeq == Seq(100L, 300L), s"AQE $aqe: ${got.toSeq}")
    }
  }

  test("EXPLAIN text is identical with and without ParamLiterals") {
    Tables.registerAll(spark, sf)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(
        "SELECT o_orderkey, o_totalprice > 1000.5 AS big FROM orders " +
          "WHERE o_custkey IN (1, 2, 3) AND o_orderdate >= DATE'1995-01-01'")
      val plan = df.queryExecution.executedPlan
      assert(params(plan).size == 5, plan.treeString)
      val literals = plan.transformAllExpressions {
        case p: ParamLiteral => Literal(p.value, p.dataType)
      }
      def texts(p: SparkPlan): Seq[String] = {
        val formatted = new StringBuilder
        ExplainUtils.processPlan(p, formatted.append(_: String))
        Seq(p.treeString, p.treeString(verbose = true), formatted.toString)
      }
      assert(texts(plan) == texts(literals))
      assert(plan.treeString.contains("1995-01-01"))
    }
  }
}
