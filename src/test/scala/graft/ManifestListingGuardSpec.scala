package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Files are listed from manifests in one place, `ManifestIO.survivingFiles`:
  * it answers below the local-read gate from the driver's cached rows
  * with no query, and above it with one Spark job. A manifest relation
  * filtered anywhere else to list files would plan a query per call
  * again, and could prune by rules of its own. */
class ManifestListingGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main")

  /** (file relative to src/main, 1-based line, text) of every source line. */
  private lazy val lines: List[(String, Int, String)] = Files.walk(root).iterator().asScala
    .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
    .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.map { case (line, i) =>
      (root.relativize(p).toString, i + 1, line) })
    .toList

  test("src/main lists files from manifests only through ManifestIO.survivingFiles") {
    val manifestFrame =
      """ManifestIO\.relation\s*\(|manifestDf\s*\(|table\.files\b|ManifestSchema\)\.parquet\s*\(""".r
    val filter = """\.(filter|where)\s*\(""".r
    val entry = "scala/graft/meta/ManifestIO.scala"
    val sites = lines.groupBy(_._1).toList.filter(_._1 != entry).flatMap { case (file, text) =>
      val src = text.sortBy(_._2).map(_._3).toVector
      src.indices.flatMap { i =>
        manifestFrame.findFirstMatchIn(src(i)).filterNot(_ => src(i).trim.startsWith("*"))
          .map { m =>
            val before = src(i).substring(0, m.start)
            // passed to a frame-taking listing (this line or the one above)
            val listed = (src.lift(i - 1).getOrElse("") + before).contains("survivingFiles(")
            // or filtered by a call chained on the frame itself
            val nested = before.count(_ == '(') > before.count(_ == ')')
            val chain = (src(i).substring(m.end) +:
              src.drop(i + 1).takeWhile(_.trim.startsWith("."))).mkString
            (listed || (!nested && filter.findFirstIn(chain).isDefined), s"$file:${i + 1}")
          }.collect { case (true, site) => site }
      }
    }
    assert(sites.isEmpty, "manifest relations filtered outside ManifestIO.survivingFiles: " +
      sites.mkString(", "))
  }
}
