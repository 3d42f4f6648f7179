package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites (one per suite). */
trait SparkTestBase extends AnyFunSuite {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `f` with session confs set, restoring the previous values. */
  def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkTestBase {
  // One JVM-wide session across suites: sbt forks a single test JVM and
  // Spark local sessions are expensive to spin up per suite.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "org.apache.spark.sql.graft.store.GraftCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
