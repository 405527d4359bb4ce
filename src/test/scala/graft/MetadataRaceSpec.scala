package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.{GraftTable, PartitionSpec}

/** Definition changes race lock-independent appends (the symlink
  * pattern of [[CommitConcurrencySpec]]): the schema, spec and
  * properties are claimed with the log, so every change lands, and an
  * append either commits under the schema its rows were written for or
  * raises and leaves nothing. */
class MetadataRaceSpec extends SparkSpec {
  import spark.implicits._

  test("renames, added columns, spec and property changes race appends") {
    val realParent = tmpDir("metarace")
    val linkParent = tmpDir("metaracelink")
    val real = s"$realParent/t"
    val seed = GraftTable.create(spark, real, Seq((0L, "v0")).toDF("k", "v").schema)
    seed.append(Seq((0L, "v0")).toDF("k", "v"))
    Files.createSymbolicLink(Paths.get(s"$linkParent/t"), Paths.get(real))
    val writer = GraftTable.load(spark, real)
    val definer = GraftTable.load(spark, s"$linkParent/t")
    assert(!(writer.lock eq definer.lock), "the two handles must not share a JVM lock")

    val n = 12
    // per append: committed, or the exception it raised
    val outcomes = new java.util.concurrent.ConcurrentHashMap[Long, Either[Throwable, Unit]]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() =>
      (1 to n).foreach { i =>
        // the value column under the name the schema has when the frame is built
        val valueCol = writer.schema.fieldNames(1)
        outcomes.put(i.toLong,
          scala.util.Try(writer.append(Seq((i.toLong, s"v$i")).toDF("k", valueCol))).toEither)
      })
    val changes: Seq[GraftTable => Unit] = Seq(
      _.renameColumn("v", "w"),
      _.addColumn("x", StringType),
      _.updatePartitionSpec(Seq(PartitionSpec.bucket(4, "k"))),
      _.setProperties(Map("comment" -> "raced")))
    val changer = new Thread(() =>
      try changes.foreach { change => Thread.sleep(150); change(definer) }
      catch { case e: Throwable => errors.add(e) })
    appender.start(); changer.start()
    appender.join(); changer.join()
    assert(errors.isEmpty, s"a definition change failed: ${errors.peek()}")

    val t = GraftTable.load(spark, real)
    // every claimed change is in the final metadata
    assert(t.schema.fieldNames.toSeq == Seq("k", "w", "x"))
    assert(t.partitionSpec == Seq(PartitionSpec.bucket(4, "k")))
    assert(t.properties.get("comment").contains("raced"))
    // an append raised only for a schema it was not written for
    val raised = (1 to n).map(_.toLong).filter(outcomes.get(_).isLeft)
    raised.foreach { i =>
      val msg = outcomes.get(i).swap.toOption.get.getMessage
      assert(msg.contains("schema changed during append") || msg.contains("write schema mismatch"),
        s"append $i raised: $msg")
    }
    val committed = (0L to n.toLong).filterNot(raised.contains)
    // each committed append is one snapshot; a raised one left none
    assert(t.snapshots.size == committed.size)
    assert(t.read.orderBy("k").select("k", "w", "x").as[(Long, String, Option[String])]
      .collect().toSeq == committed.map(i => (i, s"v$i", None)))
  }
}
