package org.apache.spark.sql.graft.store

import org.apache.spark.sql.SparkSession

/** Shared checkpoint-manifest IO for both stores. Goes through the
  * Hadoop filesystem of the checkpoint URI — the parquet data does, and
  * a manifest written with local-file APIs would strand any hdfs://
  * s3a:// or even file:/ checkpoint half-written (the whole point of a
  * checkpoint is re-hydration from shared storage on another JVM).
  */
object GraftManifest {
  private val FILE = "layout.properties"

  def write(spark: SparkSession, dir: String,
      entries: Seq[(String, String)], comment: String,
      file: String = FILE): Unit = {
    val p = new java.util.Properties()
    entries.foreach { case (k, v) => p.setProperty(k, v) }
    val path = new org.apache.hadoop.fs.Path(dir, file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try p.store(out, comment) finally out.close()
  }

  def read(spark: SparkSession, dir: String): java.util.Properties =
    readOpt(spark, dir, FILE).getOrElse(
      throw new java.io.FileNotFoundException(s"no $FILE under $dir"))

  /** Read a sidecar properties file; None when absent (older
    * checkpoints never wrote one).
    */
  def readOpt(spark: SparkSession, dir: String,
      file: String): Option[java.util.Properties] = {
    val path = new org.apache.hadoop.fs.Path(dir, file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else {
      val p = new java.util.Properties()
      val in = fs.open(path)
      try p.load(in) finally in.close()
      Some(p)
    }
  }
}
