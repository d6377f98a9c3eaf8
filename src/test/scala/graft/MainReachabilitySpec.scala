package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Main holds only code an entry point reaches. Reads `src/main/scala`
  * and `kgbench/src` as text: every public `def` in main outside the
  * entry points must be named on a non-comment line outside its own
  * definition and body, or carry a "test reference for X" Scaladoc line
  * (an object form a pipeline kernel is compared against). A name defined
  * by more than one object, class or trait, or also a Spark `functions`
  * name, is ambiguous: a reference to it counts only as `Owner.name`,
  * unqualified in the owner's own file or in a file importing the owner's
  * members, `.name` on an instance when the owner is a class or trait, or
  * a quoted `"name"` in a file naming `Owner.getClass` (a `StaticInvoke`
  * method string). A def called only by another dead def still passes:
  * after a deletion, check again until nothing is left. */
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

  /** An `object`/`class`/`trait` declaration: (indent, kind, name). */
  private val ownerLine =
    """^(\s*)(?:[\w@\[\]]+\s+)*(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  /** The line without comments ("" for a comment line) and without the
    * names its `def`s define: a definition is not a reference. */
  private def code(line: String): String =
    if (isComment(line)) ""
    else line.replaceAll("//.*$", "")
      .replaceAll("\\bdef\\s+[A-Za-z_][A-Za-z0-9_]*", "def")

  private def indent(line: String): Int = line.takeWhile(_ == ' ').length

  /** The end (exclusive) of the def at line `i`: the next non-blank line
    * indented no deeper than it. */
  private def bodyEnd(lines: Vector[String], i: Int): Int =
    lines.indexWhere(l => l.trim.nonEmpty && indent(l) <= indent(lines(i)),
      i + 1) match { case -1 => lines.size; case j => j }

  /** The innermost declaration enclosing line `i`: (kind, name). */
  private def owner(lines: Vector[String], i: Int): (String, String) =
    (i - 1 to 0 by -1).iterator.flatMap { j =>
      ownerLine.findFirstMatchIn(lines(j))
        .filter(_.group(1).length < indent(lines(i)))
        .map(m => (m.group(2), m.group(3)))
    }.nextOption().getOrElse(("file", ""))

  private def word(s: String, notAfter: String = "") =
    ("(?<![A-Za-z0-9_" + notAfter + "])" + java.util.regex.Pattern.quote(s) +
      "(?![A-Za-z0-9_])").r

  test("every public def in main is reached from an entry point or is a marked test reference") {
    val main = scalaFiles("src/main/scala")
    val files = main ++ scalaFiles("kgbench/src")
    val text = files.map(f => f -> Files.readAllLines(f).asScala.toVector).toMap
    val mentions = files.flatMap(f => text(f).zipWithIndex.map {
      case (l, i) => (f, i, code(l)) }).filter(_._3.nonEmpty)
    // every def anywhere (any modifier, local ones too) by its owner
    val owners = (for {
      f <- files
      lines = text(f)
      (l, i) <- lines.zipWithIndex
      m <- defLine.findFirstMatchIn(l).toSeq
    } yield m.group(2) -> owner(lines, i)._2).groupMap(_._1)(_._2)
    // per owner: the files importing its members, and those naming its
    // class (StaticInvoke call sites)
    val ownerFiles =
      scala.collection.mutable.Map.empty[String, (Set[Path], Set[Path])]
    val sparkFunctions =
      org.apache.spark.sql.functions.getClass.getMethods.map(_.getName).toSet
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
      val (kind, own) = owner(lines, i)
      val ambiguous = owners(name).distinct.size > 1 || sparkFunctions(name)
      val any = word(name)
      val unqualified = word(name, ".")
      val qualified = word(s"$own.$name")
      val instance = ("\\." + java.util.regex.Pattern.quote(name) +
        "(?![A-Za-z0-9_])").r
      val (importers, invokers) = ownerFiles.getOrElseUpdate(own, {
        val imports = (word(own).pattern.pattern + "\\.(?:_|\\{)").r
        (files.filter(g => text(g).exists(x => x.trim.startsWith("import") &&
          imports.findFirstIn(x).isDefined)).toSet,
          files.filter(g => text(g).exists(_.contains(s"$own.getClass"))).toSet)
      })
      val end = bodyEnd(lines, i)
      val named = mentions.exists { case (g, j, c) =>
        !(g == f && j >= i && j < end) && (
          if (!ambiguous) any.findFirstIn(c).isDefined
          else qualified.findFirstIn(c).isDefined ||
            (invokers(g) && c.contains("\"" + name + "\"")) ||
            (kind != "object" && instance.findFirstIn(c).isDefined) ||
            ((g == f || importers(g)) && unqualified.findFirstIn(c).isDefined))
      }
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
