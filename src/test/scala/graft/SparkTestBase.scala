package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites (one per suite). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkTestBase.session

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted with its contents when the suite ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** Runs `f` with session confs set, restoring the previous values. */
  def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Jobs started while `f` runs. A marker job afterwards is the barrier:
    * the listener bus delivers in order, so once the marker's start is
    * seen every earlier job start has been counted.
    */
  def jobsDuring(f: => Unit): Int = {
    val jobs = new AtomicInteger
    val marker = s"jobs-barrier-${java.util.UUID.randomUUID()}"
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.job.description") == marker) seen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, TimeUnit.SECONDS), "barrier job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  // One JVM-wide session across suites: sbt forks a single test JVM and
  // Spark local sessions are expensive to spin up per suite.
  lazy val session: SparkSession = {
    val s = GraftConf.session("graft-test", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
