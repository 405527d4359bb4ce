package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every driver-side parquet footer read goes through
  * `ManifestIO.footer`, which builds its read options from the caller's
  * loaded Hadoop conf. parquet-mr's one-argument open builds them on a
  * fresh `Configuration` instead, parsing Hadoop's default resources on
  * every call, so a second open site would quietly bring that cost back. */
class FooterReaderGuardSpec extends AnyFunSuite {

  test("src/main opens parquet files only in ManifestIO.footer") {
    val root = Paths.get("src/main")
    val open = """ParquetFileReader\s*\.\s*open\s*\(""".r
    val sites = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if open.findFirstIn(line).isDefined =>
          s"${root.relativize(p)}:${i + 1}"
      })
      .toList
    assert(sites.size == 1 &&
      sites.head.startsWith("scala/graft/meta/ManifestIO.scala:"),
      s"ParquetFileReader.open outside ManifestIO.footer: ${sites.mkString(", ")}")
  }
}
