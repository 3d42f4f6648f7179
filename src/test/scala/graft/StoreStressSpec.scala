package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowStore}

/** Concurrency stress over the full store feature stack: concurrent
  * writers (UPDATE/DELETE/PUT), scan readers, and the LRU-overflow
  * enforcement all hammering ONE budget-evicted, bucketed table of each
  * store (lz4-compressed on the column store). Properties: no reader ever observes a partial mutation or a
  * missing payload (snapshot isolation + reader leases hold under
  * spill/reload), and the final state equals the sequential effect of the
  * writer's operations.
  */
class StoreStressSpec extends SparkTestBase {

  // both stores spill through the one shared payload tier
  Seq("column" -> "", "row" -> " (row store)").foreach { case (provider, suffix) =>
    test(s"readers, a mutating writer and LRU spill race safely on one table$suffix") {
      val g = GraftSession(spark)
      val orders = Tables.load(spark, sf, "orders")
      g.createTable("s_stress", orders, keyColumns = Seq("o_orderkey"),
        partitionBy = Seq("o_orderkey"), buckets = 4, provider = provider,
        compression = if (provider == "column") "lz4" else "none",
        evictionBudgetBytes = 30000L)
      val baseCount = orders.count()

      val pool = Executors.newFixedThreadPool(3)
      val stop = new CountDownLatch(1)
      val firstError = new AtomicReference[Throwable]()
      def guard(body: => Unit): Runnable = () =>
        try body catch { case t: Throwable => firstError.compareAndSet(null, t) }

      // reader 1: full-scan aggregates in a loop — row count must always be
      // one of the writer's atomic states (base or base minus the deleted
      // slice; PUT restores the deleted keys, never a partial state)
      val deletedSlice = orders.filter(col("o_orderkey") % 11 === 3)
      val nDeleted = deletedSlice.count()
      val legalCounts = Set(baseCount, baseCount - nDeleted)
      pool.submit(guard {
        while (stop.getCount > 0) {
          val n = g.table("s_stress").count()
          assert(legalCounts.contains(n),
            s"scan saw a non-atomic state: $n not in $legalCounts")
        }
      })
      // reader 2: point lookups through bucket pruning (an index probe on
      // the row store) while payloads spill
      pool.submit(guard {
        while (stop.getCount > 0) {
          val r = g.table("s_stress").filter(col("o_orderkey") === 42L)
            .select("o_orderkey").collect()
          assert(r.length <= 1)
        }
      })
      // writer: delete a slice, put it back, update a column — each commit
      // an atomic snapshot swap followed by budget enforcement
      val writer = pool.submit(guard {
        (0 until 5).foreach { i =>
          g.delete("s_stress", col("o_orderkey") % 11 === 3)
          g.putInto("s_stress", deletedSlice)
          g.update("s_stress", col("o_orderkey") % 7 === i,
            "o_totalprice" -> lit(i.toDouble))
        }
      })
      writer.get(120, TimeUnit.SECONDS)
      stop.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS), "readers must drain")
      if (firstError.get() != null) throw firstError.get()

      // final state equals the sequential effect: all rows present, last
      // update (i = 4) applied to the %7==4 slice
      assert(g.table("s_stress").count() == baseCount)
      val got = g.table("s_stress").filter(col("o_orderkey") % 7 === 4)
        .agg(sum(col("o_totalprice"))).head().getDouble(0)
      val expectRows = orders.filter(col("o_orderkey") % 7 === 4).count()
      assert(got == expectRows * 4.0, s"last update must win: $got")
      // budget still enforced after the storm, with payloads on disk
      val (ids, tier) =
        if (provider == "column") (GraftColumnStore("s_stress").snapshot.refs.map(_.id),
          GraftColumnStore.batches)
        else (GraftRowStore("s_stress").snapshot.refs.map(_.id), GraftRowStore.packs)
      assert(ids.map(tier.residentBytes).sum <= 30000L)
      assert(ids.exists(!tier.isResident(_)), "past-budget payloads must be on the disk tier")
      g.dropTable("s_stress")
    }
  }

  test("two concurrent PUT INTO writers on disjoint key slices both land") {
    // write-write race over the compound stage-deletes-then-commit path:
    // writer A upserts the even keys (price -> 1.0), writer B the odd
    // keys (price -> 2.0), repeatedly and concurrently. Every commit is
    // an atomic snapshot transition, so the final state must be exactly
    // "every row updated by its writer" — no lost updates, no doubled
    // rows, no cross-applied deletes
    val g = GraftSession(spark)
    val supp = Tables.load(spark, sf, "supplier")
    g.createTable("s_ww", supp, keyColumns = Seq("s_suppkey"),
      partitionBy = Seq("s_suppkey"), buckets = 4)
    val base = supp.count()
    val evens = supp.filter(col("s_suppkey") % 2 === 0)
      .withColumn("s_acctbal", lit(1.0))
    val odds = supp.filter(col("s_suppkey") % 2 === 1)
      .withColumn("s_acctbal", lit(2.0))

    val pool = Executors.newFixedThreadPool(3)
    val stop = new CountDownLatch(1)
    val firstError = new AtomicReference[Throwable]()
    def guard(body: => Unit): Runnable = () =>
      try body catch { case t: Throwable => firstError.compareAndSet(null, t) }
    // concurrent reader: an upsert of EXISTING keys never changes the
    // row count, so every observed count must be exactly `base` — the
    // regression this test pins is a commit applying the OTHER writer's
    // staged deletes without its appends (readers saw base minus a slice)
    pool.submit(guard {
      while (stop.getCount > 0) {
        val n = g.table("s_ww").count()
        assert(n == base, s"reader saw a deleted-but-not-replaced window: $n != $base")
      }
    })
    val a = pool.submit(guard {
      (0 until 3).foreach(_ => g.putInto("s_ww", evens))
    })
    val b = pool.submit(guard {
      (0 until 3).foreach(_ => g.putInto("s_ww", odds))
    })
    a.get(120, TimeUnit.SECONDS); b.get(120, TimeUnit.SECONDS)
    stop.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS), "reader must drain")
    if (firstError.get() != null) throw firstError.get()

    assert(g.table("s_ww").count() == base, "no lost or doubled rows")
    val wrong = g.table("s_ww").filter(
      (col("s_suppkey") % 2 === 0 && col("s_acctbal") =!= 1.0) ||
        (col("s_suppkey") % 2 === 1 && col("s_acctbal") =!= 2.0)).count()
    assert(wrong == 0, s"$wrong rows lost their writer's update")
    g.dropTable("s_ww")
  }

  test("ROW store: two concurrent upsert writers on disjoint key slices both land") {
    // same write-write shape over the row table's pinned-snapshot +
    // tombstone path: disjoint-key concurrent puts must not lose
    // updates or duplicate rows (same-key concurrency stays
    // last-writer-ambiguous by contract, like any keyed store)
    val g = GraftSession(spark)
    val supp = Tables.load(spark, sf, "supplier")
    g.createTable("s_rww", supp, keyColumns = Seq("s_suppkey"), provider = "row")
    val base = supp.count()
    val evens = supp.filter(col("s_suppkey") % 2 === 0)
      .withColumn("s_acctbal", lit(1.0))
    val odds = supp.filter(col("s_suppkey") % 2 === 1)
      .withColumn("s_acctbal", lit(2.0))
    val pool = Executors.newFixedThreadPool(2)
    val firstError = new AtomicReference[Throwable]()
    def guard(body: => Unit): Runnable = () =>
      try body catch { case t: Throwable => firstError.compareAndSet(null, t) }
    val a = pool.submit(guard {
      (0 until 3).foreach(_ => g.putInto("s_rww", evens))
    })
    val b = pool.submit(guard {
      (0 until 3).foreach(_ => g.putInto("s_rww", odds))
    })
    a.get(120, TimeUnit.SECONDS); b.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    if (firstError.get() != null) throw firstError.get()
    assert(g.table("s_rww").count() == base, "no lost or doubled rows")
    val wrong = g.table("s_rww").filter(
      (col("s_suppkey") % 2 === 0 && col("s_acctbal") =!= 1.0) ||
        (col("s_suppkey") % 2 === 1 && col("s_acctbal") =!= 2.0)).count()
    assert(wrong == 0, s"$wrong rows lost their writer's update")
    g.dropTable("s_rww")
  }
}
