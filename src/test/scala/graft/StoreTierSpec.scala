package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the store layer from forking again: the column and row stores
  * spill, fault back and compress through the one `PayloadTier`, so the
  * LZ4 codec and the spill directory live in its file alone; and they
  * checkpoint and publish through the one `StoreOps`, so the layout
  * manifest is written in `StoreTables.scala` alone; and the session and
  * SQL surface reach both stores' DML through that same `StoreOps`; and
  * they scan through the one `StoreScan`.
  */
class StoreTierSpec extends AnyFunSuite {

  /** Files under src/main other than `owner` that contain any needle. */
  private def offenders(owner: String, needles: Seq[String]): List[Path] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val files = Files.walk(root)
    val sources = try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally files.close()
    sources.filter { (p: Path) =>
      p.getFileName.toString != owner && {
        val text = new String(Files.readAllBytes(p), ISO_8859_1)
        needles.exists(text.contains)
      }
    }
  }

  test("LZ4 codec and spill directory appear only in the shared payload tier") {
    // split so this file does not match itself
    val found = offenders("PayloadTier.scala",
      Seq("LZ4" + "Block", "SpillSweep" + ".registeredTempDir"))
    if (found.nonEmpty)
      fail(s"${found.size} files bypass PayloadTier: ${found.mkString(", ")}")
  }

  test("graft tables are mutated and indexed through StoreOps outside the store") {
    // the session and the SQL surface dispatch DML and indexes once,
    // through StoreOps; a direct row-store call is a second dispatch,
    // and a session flag naming the store is a second catalog. The
    // column store's direct calls stay: matview maintenance and tools
    // address column storage tables only.
    val rowCalls = Seq("put", "update", "delete", "deleteKeys", "createIndex",
      "dropIndexes").map(m => "GraftRowOps" + "." + m + "(")
    val flags = Seq("store" + "Backed", "row" + "Backed", "adopt" + "FromStore")
    val direct = offenders("", rowCalls).filterNot(_.toString.contains("/graft/store/"))
    val found = (direct ++ offenders("", flags)).distinct
    if (found.nonEmpty)
      fail(s"${found.size} files bypass StoreOps or keep a session catalog: " +
        found.map(_.getFileName).mkString(", "))
  }

  test("the layout manifest is written only by the shared store operations") {
    // both stores' checkpoints and epochs write their layout through
    // StoreOps.layoutEntries; a second "provider" entry is a second copy
    val found = offenders("StoreTables.scala", Seq("\"provider\"" + " ->"))
    if (found.nonEmpty)
      fail(s"${found.size} files write a layout manifest outside StoreOps: " +
        found.map(_.getFileName).mkString(", "))
  }

  test("one DSv2 table surface: provider, write, commit and layout defaults appear once") {
    // both stores declare, write and commit their tables in
    // StoreSource.scala and resolve their layout through StoreOps; a
    // second copy of any of these is a second table surface. (needle,
    // the pattern counted where it is a regex, the path it counts under)
    // — split so this file does not match itself
    val rules = Seq(
      ("extends " + "TableProvider", None, ""),
      ("RequiresDistribution" + "AndOrdering", None, ""),
      ("extends " + "BatchWrite", None, ""),
      ("\"lz4\"", Some("\"none\"" + raw"\s*\|\|.*" + "\"lz4\""), ""),
      ("163" + "84", None, "/graft/store/"))
    val found = rules.flatMap { case (needle, pattern, under) =>
      val r = pattern.getOrElse(java.util.regex.Pattern.quote(needle)).r
      val hits = offenders("", Seq(needle)).filter(_.toString.contains(under))
        .map(p => p -> r.findAllIn(new String(Files.readAllBytes(p), ISO_8859_1)).size)
        .filter(_._2 > 0)
      val n = hits.map(_._2).sum
      if (n > 1) Some(s"$r x$n in ${hits.map(_._1.getFileName).mkString(", ")}") else None
    }
    if (found.nonEmpty) fail(s"a second DSv2 table surface: ${found.mkString("; ")}")
  }

  test("one scan skeleton: lease pin, pushdown, bucket targeting and runtime filters") {
    // both stores scan through StoreScanBuilder and StoreScan in
    // StoreSource.scala; any of these elsewhere under store/ is a second
    // scan skeleton (outside store/, a parser comment names the
    // partitioning class) — split so this file does not match itself
    val needles = Seq("new " + "KeyGroupedPartitioning", "SupportsRuntime" + "Filtering",
      "SupportsPushDown" + "Filters", "SupportsPushDown" + "RequiredColumns",
      "BucketRouting" + ".targetBuckets(", "lazy val " + "pinned")
    val found = offenders("StoreSource.scala", needles)
      .filter(_.toString.contains("/graft/store/"))
    if (found.nonEmpty)
      fail(s"${found.size} files restate the scan skeleton: " +
        found.map(_.getFileName).mkString(", "))
  }
}
