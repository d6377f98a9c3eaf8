package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Main holds only code an entry point reaches. Reads `src/main/scala`
  * and `kgbench/src` as text: every public `def` in main outside the
  * entry points must be named on a non-comment line other than its own
  * definition, or carry a "test reference for X" Scaladoc line (an object
  * form a pipeline kernel is compared against). A name match is a plain
  * grep, so a def called only by another dead def, or sharing its name
  * with a live def elsewhere, still passes: after a deletion, grep again
  * until nothing is left. */
class MainReachabilitySpec extends AnyFunSuite {

  /** Objects whose whole public surface is an entry point. */
  private val entryObjects = Set("Pipeline", "StreamingIngest",
    "GraftExtensions", "Bench", "BenchLeg", "BenchExtra", "Verify", "Demo",
    "Micro")
  /** Single entry defs inside otherwise-checked objects. */
  private val entryDefs = Set("SparkEntry.queries", "SparkEntry.oracleSql",
    "StatefulCoref.resolveStream", "IcebergishTable.vacuum")

  private val defLine =
    """^\s*((?:[\w@\[\]]+\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  /** The line without comments ("" for a comment line). */
  private def code(line: String): String =
    if (isComment(line)) "" else line.replaceAll("//.*$", "")

  test("every public def in main is reached from an entry point or is a marked test reference") {
    val main = scalaFiles("src/main/scala")
    val files = main ++ scalaFiles("kgbench/src")
    val text = files.map(f => f -> Files.readAllLines(f).asScala.toVector).toMap
    val mentions = files.flatMap(f => text(f).zipWithIndex.map {
      case (l, i) => (f, i, code(l)) }).filter(_._3.nonEmpty)
    val checked = for {
      f <- main
      obj = f.getFileName.toString.stripSuffix(".scala")
      if !entryObjects(obj)
      lines = text(f)
      (l, i) <- lines.zipWithIndex
      m <- defLine.findFirstMatchIn(l).toSeq
      mods = m.group(1).split("\\s+").toSet
      if !mods.exists(w => w.startsWith("private") ||
        w.startsWith("protected") || w == "override")
      name = m.group(2)
      if !entryDefs(s"$obj.$name")
    } yield {
      val doc = lines.take(i).reverseIterator
        .takeWhile(x => isComment(x) || x.trim.startsWith("@"))
      val marked = doc.exists(_.toLowerCase.contains("test reference for"))
      val word = ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) +
        "(?![A-Za-z0-9_])").r
      val named = mentions.exists { case (g, j, c) =>
        !(g == f && j == i) && word.findFirstIn(c).isDefined }
      (s"${Paths.get("").toAbsolutePath.relativize(f.toAbsolutePath)}:${i + 1}: $name",
        marked || named)
    }
    // guards against a vacuous pass (wrong working directory, a changed
    // def syntax the pattern no longer sees)
    assert(main.size >= 30, s"read only ${main.size} main files")
    assert(checked.size >= 100, s"checked only ${checked.size} defs")
    val unreached = checked.filterNot(_._2).map(_._1)
    if (unreached.nonEmpty)
      fail(s"${unreached.size} public defs in main that no entry point " +
        "reaches (delete them, or mark a kernel's object-form test " +
        "reference):\n" + unreached.mkString("\n"))
  }
}
