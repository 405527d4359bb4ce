package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every expression and query text the SQL dispatcher hands to Spark
  * goes through `SqlFrontEnd`, the one place that normalizes Trino
  * spellings (double-quoted identifiers, function names, the injected
  * clock's `current_timestamp`) first. A second call into Spark's
  * parser would be a second dialect: there a double-quoted column is a
  * string literal and `current_timestamp` is the wall clock. */
class SqlFrontEndGuardSpec extends AnyFunSuite {

  test("src/main/scala/graft/sql reaches Spark's SQL parser only in SqlFrontEnd") {
    val root = Paths.get("src/main/scala/graft/sql")
    val call = """\bspark\.sql\(|\bexpr\(|\bsqlParser\b""".r
    val (inside, outside) = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        // the front end's body: its declaration to the next top-level `}`
        val start = lines.indexWhere(_.contains("object SqlFrontEnd"))
        val end = if (start < 0) -1 else lines.indexWhere(_ == "}", start)
        lines.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined =>
            (i > start && i < end) -> s"${root.relativize(p)}:${i + 1}"
        }
      }
      .toList.partition(_._1)
    assert(outside.isEmpty, "Spark's SQL parser called outside SqlFrontEnd: " +
      outside.map(_._2).mkString(", "))
    assert(inside.nonEmpty, "no SqlFrontEnd call into Spark's parser found")
  }
}
