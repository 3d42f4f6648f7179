package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session conf set from forking again: every entry point
  * (Bench, Verify, Explain, the tools and the specs) gets its session from
  * `GraftConf.session`, so a probe cannot silently measure a configuration
  * the bench never runs.
  */
class SessionConfSpec extends AnyFunSuite {

  test("SparkSession builder appears only in GraftConf") {
    val needle = "SparkSession" + ".builder" // split so this file does not match itself
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the project root: no $r"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator.asScala.filter(Files.isRegularFile(_)).toList finally files.close()
    }.filter { (p: Path) =>
      p.getFileName.toString != "GraftConf.scala" &&
        new String(Files.readAllBytes(p), ISO_8859_1).contains(needle)
    }
    if (offenders.nonEmpty)
      fail(s"build the session with GraftConf.session instead: ${offenders.mkString(", ")}")
  }
}
