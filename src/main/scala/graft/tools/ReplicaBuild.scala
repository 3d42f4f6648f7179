package graft.tools

import graft.GraftConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-replica builder (dev tool, not a driver gate): materialize an
  * N× FK-CONSISTENT replica of EVERY test table in the standard sf-dir
  * layout (`<out>/<table>.parquet`), so `graft.Bench` / `graft.Verify` /
  * the probes run against it unmodified via `SPARK_GRAFT_SF_DIR` — the
  * checked-in form of the r15 PERF_NOTES §42 replica protocol, promoted
  * per the r15 verdict (sf0.1 cannot demonstrate scaling: its median
  * 8c/32c ratio is < 1).
  *
  * Replication semantics (each chosen so per-replica work composes
  * honestly and nothing collapses across replicas):
  *  - TPC-H tables: keys offset by a per-replica stride — each replica's
  *    lineitem joins its OWN orders/part/supplier copy, so join fan-out
  *    and group cardinalities scale with N; nation/region stay shared
  *    dims (real TPC-H keeps them constant across SF too).
  *  - documents: doc_id strided AND every token salted with the replica
  *    id (n_chars recomputed as the salted text's length), so replica
  *    shingle/vocab spaces are DISJOINT — each replica
  *    carries the original's internal near-dup structure, no
  *    cross-replica pairs, and vocabulary-bounded aggregates scale too.
  *  - events: event_id/user_id strided (per-replica user populations,
  *    funnel/session shapes preserved).
  *  - embeddings: vec_id strided, vectors copied verbatim (documented:
  *    cross-replica twins sit at cosine 1.0; the block-partitioned
  *    pair-generation work shape is unchanged, which is what the arm
  *    measures).
  *
  * Run: sbt "runMain graft.tools.ReplicaBuild [mult] [srcDir] [outDir]"
  * (defaults 10, /root/testdata/sf0.1, /tmp/graft_replica10). Then e.g.
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_replica10 SPARK_GRAFT_CPUS=32 \
  *     SPARK_GRAFT_ONLY=... sbt "runMain graft.Bench"
  */
object ReplicaBuild {
  private val KO = 10000000000L // orderkey stride per replica
  private val KC = 1000000000L // custkey stride
  private val KP = 1000000000L // partkey stride
  private val KS = 1000000000L // suppkey stride
  private val KD = 1000000000L // doc_id stride
  private val KV = 1000000000L // vec_id stride
  private val KE = 1000000000L // event_id / user_id stride

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2) else s"/tmp/graft_replica$mult"
    val spark = GraftConf.session("graft-replica-build",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def load(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def reps = spark.range(mult).toDF("__rep")
    def shift(c: String, stride: Long) =
      (col(c) + col("__rep") * lit(stride)).as(c)
    def write(name: String, df: DataFrame): Unit = {
      df.drop("__rep").write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[replica] $name: " +
        s"${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    def replicate(name: String, keyed: Map[String, Long]): Unit = {
      val base = load(name)
      val cols = base.columns.map(c =>
        keyed.get(c).map(shift(c, _)).getOrElse(col(c)))
      write(name, base.crossJoin(reps).select(cols.toSeq: _*))
    }

    new java.io.File(out).mkdirs()
    replicate("lineitem", Map("l_orderkey" -> KO, "l_partkey" -> KP, "l_suppkey" -> KS))
    replicate("orders", Map("o_orderkey" -> KO, "o_custkey" -> KC))
    replicate("customer", Map("c_custkey" -> KC))
    replicate("part", Map("p_partkey" -> KP))
    replicate("supplier", Map("s_suppkey" -> KS))
    Seq("nation", "region").foreach(n => write(n, load(n)))

    // documents: token-salted per replica (disjoint shingle/vocab spaces)
    locally {
      val d = load("documents").crossJoin(reps)
      val salted = when(col("text").isNull, col("text")).otherwise(
        array_join(transform(split(col("text"), "\\s+"),
          t => concat(t, lit("_"), col("__rep"))), " "))
      write("documents", d.select(
        shift("doc_id", KD), salted.as("text"), col("lang"), col("source"),
        coalesce(length(salted).cast("long"), col("n_chars")).as("n_chars")))
    }
    replicate("events", Map("event_id" -> KE, "user_id" -> KE))
    replicate("embeddings", Map("vec_id" -> KV))
    println(s"[replica] done: ${mult}x $src -> $out")
    spark.stop()
  }
}
