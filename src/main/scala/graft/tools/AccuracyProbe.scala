package graft.tools

import graft.{GraftConf, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev diagnostic (not part of the driver contract): per-query recall of
  * the approximate ANN paths vs brute force, and built-in-sketch accuracy,
  * at each test SF — the measurements behind the threshold constants used
  * by the oracle-checked accuracy-claim queries (q_ann_lsh, q_ann_ivf,
  * q_approx_sketches).
  */
object AccuracyProbe {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftConf.session("graft-accuracy-probe", 16)
    spark.sparkContext.setLogLevel("ERROR")

    def measure(sf: String): Unit = {
      val dir = s"/root/testdata/$sf"
      val emb = Tables.load(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id")

      def recalls(m: DataFrame): Seq[Long] = {
        val hits = bf.join(m.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        (0L until 10L).map(q => hits.getOrElse(q, 0L))
      }

      for ((b, t) <- Seq((8, 4), (6, 8), (4, 8))) {
        val r = recalls(Similarity.lshTopK(emb, queries, "vec_id", "embedding", 10,
          bits = b, tables = t))
        println(s"[probe] $sf LSH bits=$b tables=$t min=${r.min} hits=${r.mkString(",")}")
      }
      for ((nl, np) <- Seq((16, 4), (16, 6))) {
        val r = recalls(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
          nlist = nl, nprobe = np))
        println(s"[probe] $sf IVF nlist=$nl nprobe=$np min=${r.min} hits=${r.mkString(",")}")
      }

      // hard negatives: exact vs IVF-approx — per-src hits among the true
      // top-3 for the first 50 srcs (the q_hard_negatives_approx claim
      // surface), plus wall-clock for the speedup figure
      {
        val (exact, secE) = timed(Similarity.hardNegatives(
          emb, "vec_id", "embedding", "label", k = 3)
          .select("src", "dst").collect())
        val exactSet = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
        for ((nl, np, ka) <- Seq((16, 6, 3), (32, 8, 3), (32, 8, 5), (32, 12, 5))) {
          // production shape: index built ONCE (the CREATE INDEX job),
          // probes amortize it — time the two phases separately
          val (idx, secB) = timed {
            val i = Similarity.buildIvfIndex(emb, "vec_id", "embedding", nl)
            i.assigned.persist(); i.assigned.count()
            i
          }
          val (approx, secA) = timed(Similarity.hardNegativesProbe(
            idx, emb, "vec_id", "embedding", "label", k = ka, nprobe = np)
            .select("src", "dst").collect())
          idx.assigned.unpersist()
          val approxSet = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
          val hitsBySrc = (0L until 50L).map(s =>
            exactSet.filter(_._1 == s).count(p => approxSet.contains(p)))
          println(f"[probe] $sf hardneg IVF nlist=$nl nprobe=$np k=$ka " +
            f"minHits50=${hitsBySrc.min} exact_sec=$secE%.2f build_sec=$secB%.2f " +
            f"probe_sec=$secA%.2f " +
            s"hits=${hitsBySrc.groupBy(identity).view.mapValues(_.size).toMap}")
        }
      }

      val li = Tables.load(spark, dir, "lineitem")
      li.groupBy("l_returnflag").agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("a"),
          countDistinct(col("l_orderkey")).as("e"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("m"),
          expr("percentile(l_extendedprice, 0.49)").as("p49"),
          expr("percentile(l_extendedprice, 0.51)").as("p51"))
        .collect().foreach { r =>
          val (a, e) = (r.getLong(1), r.getLong(2))
          println(f"[probe] $sf sketch ${r.getString(0)} hll_rel=${math.abs(a - e).toDouble / e}%.4f " +
            s"median_in_p49_p51=${r.getDouble(3) >= r.getDouble(4) && r.getDouble(3) <= r.getDouble(5)}")
        }
    }

    measure("sf0.01")
    measure("sf0.1")

    // ---- hard negatives at SCALE: where the IVF path starts winning.
    // The sf-sized corpora are small enough that the fused exact n²
    // kernel beats IVF's index+shuffle overhead; at 8× (16k vectors,
    // nlist grown ~sqrt(n) so each probe touches nprobe/nlist = 1/16 of
    // the corpus) the quadratic term dominates and the approximate path
    // pulls ahead — timing only (recall is pinned at driver SF above).
    {
      import spark.implicits._
      val emb = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      for (rep <- Seq(8, 32)) {
        val big = emb.crossJoin(spark.range(rep).toDF("__rep"))
          .select((col("vec_id") + col("__rep") * lit(1000000L)).as("vec_id"),
            col("embedding"), col("label"))
          .persist()
        val n = big.count()
        val nlist = math.max(32, (math.sqrt(n.toDouble) / 1.2).toInt)
        val secExact = timed(Similarity.hardNegatives(
          big, "vec_id", "embedding", "label", k = 3).select("src").count())._2
        val idx = Similarity.buildIvfIndex(big, "vec_id", "embedding", nlist)
        idx.assigned.persist(); idx.assigned.count()
        val secProbe = timed(Similarity.hardNegativesProbe(idx, big,
          "vec_id", "embedding", "label", k = 3, nprobe = 8).select("src").count())._2
        println(f"[probe] scaled hardneg n=$n nlist=$nlist exact_sec=$secExact%.2f " +
          f"ivf_probe_sec=$secProbe%.2f speedup=${secExact / secProbe}%.2fx")
        idx.assigned.unpersist(); big.unpersist()
      }
    }

    // ---- ANN search ladder at scale: brute force (d multiplies/pair)
    // vs PQ ADC over the full corpus (m lookups/pair) vs IVF-PQ (m
    // lookups over ~nprobe/nlist of the corpus). Timing only — recall
    // is pinned at driver SF by IvfPqSpec/PqSpec; index builds excluded
    // (they are the amortized CREATE INDEX job). ----
    {
      import spark.implicits._
      val emb = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      for (rep <- Seq(32, 128)) {
        val big = emb.crossJoin(spark.range(rep).toDF("__rep"))
          .select((col("vec_id") + col("__rep") * lit(1000000L)).as("vec_id"),
            col("embedding"))
          .persist()
        val n = big.count()
        val queries = big.filter(col("vec_id") < 100).persist()
        queries.count()
        val secBrute = timed(Similarity.bruteForceTopK(
          big, queries, "vec_id", "embedding", 10).count())._2
        val cb = Similarity.pqCodebook(big.limit(4096), "vec_id", "embedding",
          m = 4, k = 8, refineSteps = 1)
        val enc = Similarity.pqEncode(big, "vec_id", "embedding", cb)
          .withColumnRenamed("vec_id", "neighbor_id").persist()
        enc.count()
        val secPq = timed(Similarity.pqTopKEncoded(
          enc, queries, "vec_id", "embedding", cb, 10).count())._2
        val nlist = math.max(16, (math.sqrt(n.toDouble) / 1.2).toInt)
        val ivfpq = Similarity.buildIvfPqIndex(big, "vec_id", "embedding",
          nlist = nlist, m = 4, k = 8, refineSteps = 1)
        ivfpq.encoded.persist(); ivfpq.encoded.count()
        val secIvfPq = timed(Similarity.ivfPqTopK(ivfpq, big, queries,
          "vec_id", "embedding", k = 10, nprobe = 8, shortlist = 100).count())._2
        println(f"[probe] ann ladder n=$n nlist=$nlist brute_sec=$secBrute%.2f " +
          f"pq_adc_sec=$secPq%.2f ivfpq_sec=$secIvfPq%.2f " +
          f"(brute/ivfpq=${secBrute / secIvfPq}%.2fx)")
        ivfpq.encoded.unpersist(); enc.unpersist(); queries.unpersist(); big.unpersist()
      }
    }
    spark.stop()
  }
}
