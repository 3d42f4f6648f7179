package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the payload tier from forking again: the column and row stores
  * spill, fault back and compress through the one `PayloadTier`, so the
  * LZ4 codec and the spill directory live in its file alone.
  */
class StoreTierSpec extends AnyFunSuite {

  test("LZ4 codec and spill directory appear only in the shared payload tier") {
    // split so this file does not match itself
    val needles = Seq("LZ4" + "Block", "SpillSweep" + ".registeredTempDir")
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val files = Files.walk(root)
    val sources = try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally files.close()
    val offenders = sources.filter { (p: Path) =>
      p.getFileName.toString != "PayloadTier.scala" && {
        val text = new String(Files.readAllBytes(p), ISO_8859_1)
        needles.exists(text.contains)
      }
    }
    if (offenders.nonEmpty)
      fail(s"${offenders.size} files bypass PayloadTier: ${offenders.mkString(", ")}")
  }
}
