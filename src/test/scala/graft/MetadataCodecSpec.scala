package graft

import org.apache.spark.sql.functions._

import graft.meta.GraftTable

/** Names the table metadata holds — locations, manifest paths, ref
  * names, property values — commit, reload and read back exactly,
  * whatever characters they contain. Each case below lost data, or was
  * refused, while the log was written by string concatenation and read
  * by regular expressions. */
class MetadataCodecSpec extends SparkSpec {
  import spark.implicits._

  /** Two appends at a table under `dir`, read back through a new handle. */
  private def twoAppends(dir: String): Unit = {
    val loc = s"${tmpDir("metacodec")}/$dir/t"
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v").schema)
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    val back = GraftTable.load(spark, loc)
    assert(back.snapshots.size == 2)
    assert(back.rowCount == 2L)
    assert(back.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a table at a location containing a comma reads back") {
    twoAppends("a,b")
  }

  test("a table at a location containing a closing bracket reads back") {
    twoAppends("a]b")
  }

  test("a branch and a tag whose names contain a closing brace survive reload and commit") {
    val loc = tmpDir("metacodec") + "/t"
    val t = GraftTable.create(spark, loc, Seq(1L).toDF("k").schema)
    t.append(Seq(1L).toDF("k"))
    t.createBranch("a}b")
    t.createTag("t}g")
    t.append(Seq(2L).toDF("k"))
    val back = GraftTable.load(spark, loc)
    assert(back.branches.get("a}b").contains(1L))
    assert(back.tags.get("t}g").contains(1L))
    assert(back.readBranch("a}b").as[Long].collect().toSeq == Seq(1L))
    assert(back.readTag("t}g").as[Long].collect().toSeq == Seq(1L))
    assert(back.read.orderBy("k").as[Long].collect().toSeq == Seq(1L, 2L))
  }

  test("a property value containing a double quote is kept exactly") {
    val loc = tmpDir("metacodec") + "/t"
    val t = GraftTable.create(spark, loc, Seq(1L).toDF("k").schema)
    val props = Map("comment" -> "say \"hi\"", "path\\key" -> "a\\\"b")
    t.setProperties(props)
    t.append(Seq(1L).toDF("k"))
    val back = GraftTable.load(spark, loc)
    assert(back.properties == props)
    assert(back.read.agg(sum("k")).head().getLong(0) == 1L)
  }
}
