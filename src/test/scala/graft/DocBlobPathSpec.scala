package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One doc-blob lake path: the `graftblob` sink (through
  * `SourceQueries.stagedDocBlobs`) is the only writer of `doc_<id>.<ext>`
  * files, and `BlobDataSource.docBlobs` the only parser of their names.
  * No other source under src/main/scala/graft builds such a name itself
  * or pulls `doc_(\d+)` out of a path. */
class DocBlobPathSpec extends AnyFunSuite {
  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  test("only BlobDataSource names or parses doc_<id>.<ext> blobs") {
    // an interpolated or concatenated name that starts with doc_<id>
    val write = """[fs]?"doc_(\$|"\s*\+)""".r
    // the id pattern as written in a Scala string (escaped or raw)
    val parse = """doc_\(\\{1,2}d\+\)""".r
    val owner = new File("src/main/scala/graft/sources/BlobDataSource.scala").getCanonicalFile
    val sources = files(new File("src/main/scala/graft"))
      .filter(f => f.getName.endsWith(".scala") && f.getCanonicalFile != owner)
    assert(sources.exists(_.getPath.contains("queries")), sources.toString)
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      if write.findFirstIn(line).isDefined || parse.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    if (hits.nonEmpty)
      fail(s"${hits.size} doc-blob name writes/parses outside BlobDataSource:\n${hits.mkString("\n")}")
  }
}
