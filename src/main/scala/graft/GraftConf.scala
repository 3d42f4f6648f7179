package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point runs: `graft.Bench`,
  * `graft.Verify`, `graft.Explain`, the specs and the dev tools. A probe
  * built here measures the conf set the bench times, so a number it
  * records cannot come from a session the bench never runs.
  */
object GraftConf {

  /** Local session on `cpus` cores with the graft extensions and catalog,
    * v2 bucketing (storage-partitioned joins over bucketed store tables),
    * AQE on, UTC and the UI off. Callers set their own log level.
    */
  def session(app: String, cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "org.apache.spark.sql.graft.store.GraftCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
