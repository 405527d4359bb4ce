package graft

import scala.util.Random

import org.apache.spark.sql.types.StructType

import graft.meta.GraftTable
import graft.sql.GraftSql

/** Randomized row-identity check for the widened MERGE: for seeded
  * random tables, sources, and clause combinations (conditioned DELETE
  * and UPDATE in both precedence orders, conditional INSERT), the SQL
  * result must equal a plain-Scala model of Trino's first-match-wins
  * semantics.
  */
case class MergePropRow(k: Long, v: String, n: Long)

class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  private type R = MergePropRow
  private val R = MergePropRow

  private def run(seed: Int): Unit = {
    val rnd = new Random(seed)
    val dir = tmpDir(s"mergeprop$seed")
    val resolve: String => GraftTable =
      n => GraftTable.load(spark, s"$dir/$n")
    def sql(s: String) = GraftSql.exec(spark, s, resolve, new TestClock)

    // random target and source; some keys overlap, some are new
    val target = (0 until 30).map(i =>
      R(i.toLong, s"v$i", rnd.nextInt(100).toLong))
    val srcKeys = rnd.shuffle((0 until 40).toList).take(12)
    val source = srcKeys.map(k =>
      R(k.toLong, s"s$k", rnd.nextInt(100).toLong))

    // n nullable: the INSERT clause leaves it out, so it fills NULL
    val t = GraftTable.create(spark, s"$dir/t",
      StructType(target.toDF().schema.map(_.copy(nullable = true))))
    t.append(target.toDF())
    val s = GraftTable.create(spark, s"$dir/src", source.toDF().schema)
    s.append(source.toDF())

    val cut = rnd.nextInt(100)
    val deleteFirst = rnd.nextBoolean()
    val withInsert = rnd.nextBoolean()
    val delClause = s"WHEN MATCHED AND src.n >= $cut THEN DELETE"
    val updClause =
      "WHEN MATCHED THEN UPDATE SET v = concat(src.v, '!'), n = t.n + src.n"
    val insClause =
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, upper(src.v))"
    val clauses = (if (deleteFirst) Seq(delClause, updClause)
      else Seq(updClause, delClause)) ++
      (if (withInsert) Seq(insClause) else Seq.empty)
    sql(s"MERGE INTO t USING src ON t.k = src.k\n${clauses.mkString("\n")}")

    // plain-Scala model of first-match-wins
    val byKey = source.map(r => r.k -> r).toMap
    val modeled = target.flatMap { row =>
      byKey.get(row.k) match {
        case None => Some((row.k, row.v, Option(row.n)))
        case Some(src) =>
          val del = src.n >= cut
          if (deleteFirst) {
            if (del) None
            else Some((row.k, src.v + "!", Option(row.n + src.n)))
          } else {
            // update is unconditioned, so it wins every match
            Some((row.k, src.v + "!", Option(row.n + src.n)))
          }
      }
    } ++ (if (withInsert)
      source.filterNot(r => target.exists(_.k == r.k))
        .map(r => (r.k, r.v.toUpperCase, Option.empty[Long]))
    else Seq.empty)

    val got = t.read.as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got == modeled.sortBy(_._1),
      s"seed=$seed cut=$cut deleteFirst=$deleteFirst withInsert=$withInsert")
  }

  test("random MERGE compositions equal the first-match-wins model") {
    (1 to 6).foreach(run)
  }
}
