package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every staged artifact lives under ONE root (`core.Staging`), so the
  * registry of family names is global: two call sites sharing a family
  * silently share (and clobber, and sweep) one on-disk artifact — the
  * bug class q161c hit when it briefly reused q118's "evolake" name and
  * each query found the OTHER's layout under its expected root. The
  * registry is the source tree itself, so the checks run against
  * whatever is actually merged. */
class StagedFamiliesSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))

  test("every stagedBlobs fmt is used by exactly one call site") {
    // checked across every entry point (blob lakes, bucketed tables,
    // stream roots): they all share Staging.root. The family is the first
    // string literal, after any plain identifiers.
    val pat = """\b(stagedBlobs|stagedDocBlobs|Staging\.staged|Staging\.stableRoot|Staging\.bucketedTable)\(\s*(?:\w+\s*,\s*)*"([a-z0-9_]+)"""".r
    val uses = sources("src/main/scala").flatMap { case (p, text) =>
      pat.findAllMatchIn(text).map { m =>
        val family = if (m.group(1).startsWith("staged")) s"blobs_${m.group(2)}" else m.group(2)
        (m.group(1), family, p.getFileName.toString)
      }
    }
    val dup = uses.groupBy(_._2).filter(_._2.size > 1)
    assert(dup.isEmpty,
      s"staged families reused across call sites: " +
        dup.map { case (f, sites) => s"$f -> ${sites.map(_._3).mkString(",")}" }
          .mkString("; "))
    for (entry <- Seq("stagedBlobs", "stagedDocBlobs", "Staging.staged", "Staging.stableRoot",
        "Staging.bucketedTable"))
      assert(uses.exists(_._1 == entry), s"no $entry call sites found — pattern rotted")
  }

  test("no checkout path, and no hand-rolled publish or sweep outside core.Staging") {
    // this checkout's own build dir as an absolute path (specs run from
    // the checkout root); the Staging-only tokens are spelled in pieces so
    // this file does not match itself
    val checkout = Paths.get("target").toAbsolutePath.toString
    val stagingOnly = Seq("ATOMIC" + "_MOVE", "sweepStale" + "(", "recordSweep" + "(",
      "Staging.publish" + "(")
    val hits = sources("src").flatMap { case (p, text) =>
      val own = p.endsWith(Paths.get("graft", "core", "Staging.scala"))
      (checkout +: stagingOnly.filterNot(_ => own)).filter(text.contains).map(t => s"$p: $t")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
