package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every snapshot-log write goes through `Commit.claim`, the one bounded
  * read-recompute-retry loop around `SnapshotLog.tryWriteState`. A second
  * call site would be a second commit protocol: its own retry bound (or
  * none — a store whose rename keeps failing spins it forever), its own
  * conflict checks, its own ref advance. Likewise all table metadata is
  * in the claimed log: a file published beside it would be written
  * outside any claim. */
class CommitGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main")

  /** (file relative to src/main, 1-based line, text) of every source line. */
  private lazy val lines: List[(String, Int, String)] = Files.walk(root).iterator().asScala
    .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
    .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.map { case (line, i) =>
      (root.relativize(p).toString, i + 1, line) })
    .toList

  /** The lines of the member of `file` declared on the first line
    * containing `decl`, through its closing brace. */
  private def span(file: String, decl: String): Range = {
    val text = lines.filter(_._1 == file)
    val start = text.indexWhere(_._3.contains(decl))
    assert(start >= 0, s"no $decl in $file")
    var depth = 0
    var opened = false
    val end = text.indexWhere({ case (_, _, l) =>
      depth += l.count(_ == '{') - l.count(_ == '}')
      opened ||= l.contains('{')
      opened && depth == 0
    }, start)
    text(start)._2 to text(end)._2
  }

  test("metadata is published only by the log claim, and side files are named only by the upgrade") {
    val log = "scala/graft/meta/SnapshotLog.scala"
    val claim = span(log, "def tryWriteState")
    val renames = lines.collect {
      case (f, i, l) if "AtomicRename\\.\\w+\\s*\\(".r.findFirstIn(l).isDefined &&
          !(f == log && claim.contains(i)) => s"$f:$i"
    }
    assert(renames.isEmpty, s"AtomicRename called outside SnapshotLog.tryWriteState: " +
      renames.mkString(", "))
    val upgrade = span(log, "object LegacyLayout")
    val sideFiles = Seq("schema.json", "properties.json", "partition.json", "_graft/schemas")
    val named = lines.collect {
      case (f, i, l) if sideFiles.exists(l.contains) && !(f == log && upgrade.contains(i)) =>
        s"$f:$i"
    }
    assert(named.isEmpty, s"side files named outside LegacyLayout: ${named.mkString(", ")}")
  }

  test("src/main claims a log version only in Commit.claim") {
    val root = Paths.get("src/main")
    val call = """tryWriteState\s*\(""".r
    val sites = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined &&
            !line.contains("def tryWriteState") =>
          s"${root.relativize(p)}:${i + 1}"
      })
      .toList
    assert(sites.size == 1 &&
      sites.head.startsWith("scala/graft/meta/Commit.scala:"),
      s"SnapshotLog.tryWriteState outside Commit.claim: ${sites.mkString(", ")}")
  }
}
