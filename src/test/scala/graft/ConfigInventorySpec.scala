package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The README `## Configuration` table lists exactly the `spark.graft.*`
  * keys the engine reads: a key added to the source without a row, or a
  * row left behind for a removed key, fails here. */
class ConfigInventorySpec extends AnyFunSuite {

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Keys named by `"spark.graft.…"` string literals (plain or
    * interpolated) under src/main/scala; a literal ending in `.` is a
    * key family, written `prefix.*`. */
  private def sourceKeys: Set[String] = {
    val lit = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap(f => lit.findAllMatchIn(read(f)).map(_.group(1))).map { k =>
      if (k.endsWith(".")) k + "*" else k
    }.toSet
  }

  /** Keys in the first column of the README's Configuration table. */
  private def readmeKeys: Set[String] = {
    val readme = read(Paths.get("README.md"))
    val start = readme.indexOf("\n## Configuration")
    assert(start >= 0, "README.md has no '## Configuration' section")
    val end = readme.indexOf("\n## ", start + 1)
    val section = readme.substring(start, if (end < 0) readme.length else end)
    val key = "`(spark\\.graft\\.[A-Za-z0-9_.*]+)`".r
    section.linesIterator
      .filter(l => l.startsWith("| `spark.graft."))
      .flatMap(l => key.findAllMatchIn(l.split('|')(1)).map(_.group(1)))
      .toSet
  }

  test("README Configuration table lists exactly the spark.graft.* keys the source reads") {
    val src = sourceKeys
    val doc = readmeKeys
    // guards against a parser that silently finds nothing on either side
    assert(src.contains("spark.graft.join.grid.enabled"), src)
    assert(doc.contains("spark.graft.join.grid.enabled"), doc)
    assert((src -- doc).isEmpty,
      s"keys read in src/main/scala but missing from README: ${(src -- doc).toSeq.sorted}")
    assert((doc -- src).isEmpty,
      s"keys in README that no source reads: ${(doc -- src).toSeq.sorted}")
  }
}
