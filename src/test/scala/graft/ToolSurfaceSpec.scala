package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** No one-off tools that nothing references: every main under
  * src/main/scala/graft must be named in README.md or in a file under
  * scripts/, so each surviving tool is documented or driven by a script. */
class ToolSurfaceSpec extends AnyFunSuite {
  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  /** Names of the objects that declare a `def main`: each main belongs to
    * the closest `object` declared above it in its file. */
  private def mains: Seq[String] = {
    val obj = """(?m)^\s*object\s+(\w+)""".r
    val main = """def main\s*\(""".r
    files(new File("src/main/scala/graft")).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = Files.readString(f.toPath)
      val objects = obj.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      main.findAllMatchIn(src).flatMap(m => objects.takeWhile(_._1 < m.start).lastOption.map(_._2))
    }.distinct.sorted
  }

  test("every main is named in README.md or under scripts/") {
    val found = mains
    assert(found.contains("Bench") && found.contains("Verify"), found.toString)
    val docs = (new File("README.md") +: files(new File("scripts")))
      .map(f => Files.readString(f.toPath)).mkString("\n")
    val orphans = found.filterNot(n => s"\\b$n\\b".r.findFirstIn(docs).isDefined)
    assert(orphans.isEmpty, s"mains named neither in README.md nor under scripts/: $orphans")
  }
}
