package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.Diskstores

/** CREATE/DROP DISKSTORE (reference create-diskstore.md) and the honored
  * `diskstore` table option: the named directory is the durable
  * checkpoint root — `checkpointTable(name)`/`restoreTable(name)` with no
  * explicit directory resolve through the binding, and a fresh-registry
  * restore finds the checkpoint by searching registered stores.
  */
class DiskstoreSpec extends SparkTestBase {

  private def tmp(name: String): String = tempDir(name).toString

  test("DDL + binding + no-dir checkpoint/restore round-trip") {
    val g = GraftSession(spark)
    val dir = tmp("graft-ds1-")
    g.sql(s"CREATE DISKSTORE ds1 MAXLOGSIZE 128 AUTOCOMPACT false ('$dir')")
    // idempotent arm + duplicate rejection
    g.sql(s"CREATE DISKSTORE IF NOT EXISTS ds1 ('$dir')")
    intercept[Exception](g.sql(s"CREATE DISKSTORE ds1 ('$dir')"))
    import spark.implicits._
    g.sql("CREATE TABLE ds_tab (k bigint, v string) USING column " +
      "OPTIONS (key_columns 'k', diskstore 'ds1')")
    g.insert("ds_tab", (1L to 500L).map(i => (i, s"v$i")).toDF("k", "v"))
    try {
      // the binding resolves the checkpoint root: <dir>/<table>
      g.checkpointTable("ds_tab")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "ds_tab", "layout.properties")),
        "checkpoint must land under the diskstore directory")
      // destructive mutation, then a no-dir restore brings it back
      g.delete("ds_tab", col("k") <= 400L)
      assert(g.table("ds_tab").count() == 100)
      g.restoreTable("ds_tab")
      assert(g.table("ds_tab").count() == 500)
      // sys face
      val row = g.sql("SELECT * FROM sys.diskstores WHERE name = 'ds1'").collect()(0)
      assert(row.getAs[String]("dirs") == dir)
      assert(row.getAs[String]("bound_tables").contains("ds_tab"))
      assert(row.getAs[String]("props").contains("maxlogsize=128"))
      // DROP refuses while bound, succeeds after the table goes
      intercept[Exception](g.sql("DROP DISKSTORE ds1"))
      g.dropTable("ds_tab")
      g.sql("DROP DISKSTORE ds1")
      g.sql("DROP DISKSTORE IF EXISTS ds1")
      intercept[Exception](g.sql("DROP DISKSTORE ds1"))
    } finally {
      if (g.isManaged("ds_tab")) g.dropTable("ds_tab")
      Diskstores.drop("ds1", ifExists = true)
    }
  }

  test("unknown diskstore at CREATE TABLE fails; fresh-registry restore finds the checkpoint") {
    val g = GraftSession(spark)
    intercept[Exception] {
      g.sql("CREATE TABLE ds_bad (k bigint) USING column OPTIONS (diskstore 'nope')")
    }
    assert(!g.isManaged("ds_bad"))
    val dir = tmp("graft-ds2-")
    g.sql(s"CREATE DISKSTORE ds2 ('$dir')")
    import spark.implicits._
    g.sql("CREATE TABLE ds_tab2 (k bigint, v double) USING column " +
      "OPTIONS (diskstore 'ds2')")
    g.insert("ds_tab2", (1L to 200L).map(i => (i, i * 0.5)).toDF("k", "v"))
    try {
      g.checkpointTable("ds_tab2")
      // simulate the fresh JVM: drop the table AND the binding, keep the
      // directory; re-register the diskstore and restore by name only
      g.dropTable("ds_tab2")
      Diskstores.drop("ds2", ifExists = false)
      g.sql(s"CREATE DISKSTORE ds2 ('$dir')")
      val back = g.restoreTable("ds_tab2")
      assert(back.count() == 200)
      // the restore re-bound the table: a later no-dir checkpoint works
      g.insert("ds_tab2", Seq((201L, 100.5)).toDF("k", "v"))
      g.checkpointTable("ds_tab2")
      g.dropTable("ds_tab2")
      assert(g.restoreTable("ds_tab2").count() == 201)
    } finally {
      if (g.isManaged("ds_tab2")) g.dropTable("ds_tab2")
      Diskstores.drop("ds2", ifExists = true)
    }
  }
}
