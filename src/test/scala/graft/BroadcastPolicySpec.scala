package graft

import graft.queries.{RelationalQueries, TpchQueries, TpchQueries2, TpchQueries3}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, ResolvedHint}

/** Broadcast-hint policy: `broadcast()` is mandatory, not advisory — a
  * hard hint on an SF-scaling table (customer = SF×150k, part = SF×200k,
  * supplier = SF×10k rows) overrides AQE's size gate and OOMs the build
  * side at 100× data. Policy: hints are allowed only on (a) genuinely
  * constant dims (nation = 25 rows, region = 5 rows at every SF) and
  * (b) global aggregates (provably ≤1 row). Everything else must be left
  * to the size-based planner / AQE, which picks BroadcastHashJoin at
  * bench scale anyway and degrades to a shuffle join instead of an OOM
  * when the side outgrows the threshold.
  */
class BroadcastPolicySpec extends SparkTestBase {

  private def hints(plan: LogicalPlan): Seq[ResolvedHint] =
    plan.collect { case h: ResolvedHint => h }

  /** A hint subtree is scale-safe iff it is a global aggregate (≤1 row
    * by construction) or every leaf relation is nation/region.
    */
  private def scaleSafe(h: ResolvedHint): Boolean = {
    val globalAgg = h.child.collectFirst {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
    }.isDefined
    val leaves = h.child.collectLeaves().map(_.toString.toLowerCase)
    val constDimsOnly = leaves.nonEmpty && leaves.forall(l =>
      l.contains("nation") || l.contains("region"))
    globalAgg || constDimsOnly
  }

  test("no broadcast hint on an SF-scaling relation in any TPC-H/relational query") {
    val defs = TpchQueries.defs ++ TpchQueries2.defs ++ TpchQueries3.defs ++
      RelationalQueries.defs
    defs.foreach { d =>
      val analyzed = d.fn(spark, sf).queryExecution.analyzed
      hints(analyzed).filterNot(scaleSafe).foreach { h =>
        fail(s"${d.name}: broadcast hint on an SF-scaling subtree:\n${h.child.treeString}")
      }
    }
  }

  test("planner still selects BroadcastHashJoin for small dims without hints") {
    // The queries that carried hard part/supplier/customer hints before
    // round 5. At test scale every one of those sides is far below the
    // autoBroadcastJoinThreshold, so losing the hint must not cost the
    // broadcast: the executed plan still contains at least as many
    // BroadcastHashJoins as the query has dimension joins.
    val expectedMinBhj = Map(
      "q5_local_supplier" -> 3,   // supp, nation, region (cust/ord may merge-join)
      "q7_volume_shipping" -> 3,  // supp, n1, n2
      "q8_market_share" -> 5,     // part, supp, n1, n2, region
      "q9_product_profit" -> 3,   // part, supp, nation
      "q14_promo_revenue" -> 1,   // part
      "q17_small_quantity" -> 1,  // part
      "q19_disjunct_revenue" -> 1, // part
      "q21_waiting_suppliers" -> 1, // supplier⋈nation dim frame
      "q_window_rank" -> 1,       // customer
      "q_distinct_agg" -> 1)      // customer
    val byName = SparkEntry.allDefs.map(d => d.name -> d).toMap
    expectedMinBhj.foreach { case (name, minBhj) =>
      val df = byName(name).fn(spark, sf)
      df.write.format("noop").mode("overwrite").save() // finalize AQE plan
      val plan = df.queryExecution.executedPlan.toString
      val got = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(got >= minBhj,
        s"$name: expected >= $minBhj BroadcastHashJoin after hint removal, got $got:\n$plan")
    }
  }

  test("the storage-registry size guard measures only pure checkpoint frames") {
    val ck = spark.range(0, 1000, 1, 2).toDF("v").localCheckpoint(true)
    assert(graft.operators.Dedup.storageBytes(ck).exists(_ > 0))
    // a non-checkpoint leaf has no registry entry: measuring only the
    // checkpoint part would undercount and could admit an over-sized hint
    val mixed = ck.union(spark.range(0, 10).toDF("v"))
    assert(graft.operators.Dedup.storageBytes(mixed).isEmpty)
  }
}
