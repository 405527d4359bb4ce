package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every table-owned data file (data, position-delete and eq-delete
  * files) is written by `GraftTable.writeFiles`, the one writer: it
  * names the `data/<uuid>` commit dir, applies the table's write
  * properties and drops Spark's `_SUCCESS` marker. Only a Spark write
  * leaves a `_SUCCESS` marker, so every site that deletes one is a
  * writer, whatever its dir is called; the known writers of metadata
  * files are listed here by name. A site outside that list, or a
  * commit dir named outside `writeFiles`, is a second writer with its
  * own copy of the sequence. */
class DataWriteGuardSpec extends AnyFunSuite {

  /** `file#enclosing def` of every `_SUCCESS` delete allowed. */
  private val writers = Set(
    "scala/graft/meta/GraftTable.scala#writeFiles",   // the data-file writer
    "scala/graft/meta/Commit.scala#write",            // manifests
    "scala/graft/cmd/Analyze.scala#saveStore",        // column-statistics store
    "scala/graft/cmd/AnalyzeIncremental.scala#run")   // column-statistics store

  test("src/main writes data files only in GraftTable.writeFiles") {
    val root = Paths.get("src/main")
    val commitDir = """data/\$\{UUID""".r
    val defn = """^(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+)*def\s+(\w+)""".r
    val sites = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        // the innermost def that encloses line i
        def owner(i: Int) = {
          val indent = lines(i).takeWhile(_ == ' ').length
          (i to 0 by -1).iterator.flatMap(j => defn.findFirstMatchIn(lines(j)))
            .collectFirst { case m if m.group(1).length < indent => m.group(2) }
            .getOrElse("?")
        }
        def site(i: Int) = s"${root.relativize(p)}#${owner(i)}"
        lines.indices.collect {
          case i if commitDir.findFirstIn(lines(i)).isDefined => ("dir", site(i))
          case i if lines(i).contains("\"_SUCCESS\"") && lines(i).contains("delete") =>
            ("delete", site(i))
        }
      }
      .toList
    val strays = sites.collect {
      case ("dir", s) if s != "scala/graft/meta/GraftTable.scala#writeFiles" => s
      case ("delete", s) if !writers(s) => s
    }
    assert(strays.isEmpty && sites.map(_._2).toSet == writers,
      s"data files written outside GraftTable.writeFiles: ${strays.mkString(", ")} " +
        s"(sites found: ${sites.map(_._2).distinct.mkString(", ")})")
  }
}
