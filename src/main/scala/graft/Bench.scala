package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Protocol mirrors the reference's harnesses (BASELINE.md: Quickstart +
  * TPC-H QueryExecutor — N timed runs after warmup): every query gets 1
  * warmup run (codegen + JIT + parquet footer caches) and `BENCH_RUNS`
  * (default 3) timed runs. The action is a full materialization of the
  * result iterator, not a count() (count would let Catalyst prune the
  * project away).
  *
  * The PRIMARY per-query statistic is the MIN of the timed runs, with the
  * mean kept as `queries_mean`. This host shows large noise PHASES —
  * round-5 interleaved A/B probes (PERF_NOTES §1) measured the
  * SAME arm at 1.7 s and 20.5 s minutes apart, with the slow phase
  * migrating between unrelated queries across runs; it is what produced
  * round 4's "unexplained regression cluster" of textually-unchanged
  * queries. Min-of-N is the statistic that estimates plan cost rather
  * than host weather; the mean of 2 runs conflates the two.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("BENCH_RUNS", "3").toInt
    val spark = GraftConf.session("graft-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // A/B hook: SPARK_GRAFT_CONF="k=v;k=v" applies session confs before
    // the run, so a default-flip candidate can be benched in BOTH
    // states with the same run shape (the only sound comparison on this
    // host — see PERF_NOTES §21)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })

    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // toLocalIterator-free full materialization: noop write computes
      // every partition without collecting to the driver.
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // dev loop: SPARK_GRAFT_ONLY=q_a,q_b restricts the run
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val results = SparkEntry.allDefs
      .filter(d => only.forall(_.contains(d.name)))
      .map { d =>
      val (t, tMin) =
        try {
          timeOne(d.fn) // warmup
          val ts = (0 until runs).map(_ => timeOne(d.fn))
          (ts.sum / runs, ts.min)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${d.name} failed: ${e.getMessage}")
            (-1.0, -1.0)
        }
      // Isolate queries from each other's heap context: a full GC after
      // each query frees dropped localCheckpoint blocks (the
      // ContextCleaner reclaims checkpoint/broadcast state only once the
      // referencing objects are collected) so a heavy query does not tax
      // its run-order neighbors' timings. Without this, round-over-round
      // comparisons conflate query changes with run-order heap drift.
      System.gc()
      Thread.sleep(200) // let the ContextCleaner drain its queue
      (d.name, t, tMin)
    }

    // primary stat: min-of-N (see class doc — host noise phases); mean
    // kept as an auxiliary for run-to-run comparability checks
    val qs = results
      .map { case (k, _, m) => "\"" + k + "\":" + f"$m%.4f" }
      .mkString("{", ",", "}")
    val qsMean = results
      .map { case (k, v, _) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, _, m) if m >= 0 => m }.sum
    val line =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","stat":"min-of-$runs%d","queries":$qs,""" +
        f""""queries_mean":$qsMean,"sf":"$sfDir"}"""
    println(line)
    // Also persist the full per-query JSON as a committed artifact: the
    // driver scrapes only a truncated stdout tail, which has lost the
    // head of the query map in past rounds. bench_out.json is the
    // authoritative record.
    // A SPARK_GRAFT_ONLY dev loop must not clobber the committed full
    // record with a partial one — restricted runs write a scratch file.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "/tmp/bench_out_partial.json" else "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The full line above is the contract artifact, but at 246 queries it
    // is ~8 KB and the driver keeps only a bounded stdout TAIL — the line
    // has been truncated mid-map (and unparseable) since round 13. Print a
    // compact summary LAST so the tail always ends with one complete,
    // parseable JSON line carrying the total; the per-query map stays in
    // the full line and in bench_out.json (the authoritative record).
    // A failed query records -1 and is left out of the total, so a crash
    // would read as a speedup: name the failures here and exit non-zero.
    val n = results.count(_._3 >= 0)
    val failed = results.collect { case (k, _, m) if m < 0 => "\"" + k + "\"" }
    println(f"""{"metric":"total","value":$total%.4f,"unit":"sec",""" +
      f""""stat":"min-of-$runs%d","n_queries":$n%d,"sf":"$sfDir",""" +
      s""""failed":${failed.mkString("[", ",", "]")},"queries_in":"$outPath"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
