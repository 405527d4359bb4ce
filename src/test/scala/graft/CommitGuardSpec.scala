package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every snapshot-log write goes through `Commit.claim`, the one bounded
  * read-recompute-retry loop around `SnapshotLog.tryWriteState`. A second
  * call site would be a second commit protocol: its own retry bound (or
  * none — a store whose rename keeps failing spins it forever), its own
  * conflict checks, its own ref advance. */
class CommitGuardSpec extends AnyFunSuite {

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
