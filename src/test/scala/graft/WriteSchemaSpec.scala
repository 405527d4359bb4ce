package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.GraftTable
import graft.streaming.GraftSink

/** The write-schema contract: every table-row write matches its frame
  * to the table schema by name and allows only Iceberg type promotion.
  * A frame the rule refuses raises before any Spark job runs and leaves
  * no snapshot and no data file behind; each refusal below used to
  * commit without error and lose or corrupt data. */
class WriteSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** (k BIGINT NOT NULL, v BIGINT NOT NULL) holding (1, 10) and (2, 20);
    * `renamed` renames v to w afterwards. */
  private def table(renamed: Boolean = false): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("wschema") + "/t",
      Seq((1L, 10L)).toDF("k", "v").schema)
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    if (renamed) t.renameColumn("v", "w")
    t
  }

  private def dataFiles(t: GraftTable): Set[String] =
    GraftTable.listFiles(t.fileSystem, new Path(t.dir, "data"))
      .map(_.getPath.toString).toSet

  /** `write` raises the rule's refusal before any job, and the table
    * keeps its snapshots, its data files and its rows. */
  private def refused(t: GraftTable)(write: => Any): Unit = {
    val (snaps, files) = (t.snapshots, dataFiles(t))
    val (e, sites) = JobLog.during(spark)(intercept[IllegalArgumentException](write))
    assert(e.getMessage.contains("write schema mismatch"), e.getMessage)
    assert(sites.isEmpty, s"the refusal ran ${sites.size} jobs:\n${sites.mkString("\n---\n")}")
    assert(t.snapshots == snaps, "a refused write must not commit")
    assert(dataFiles(t) == files, "a refused write must not leave a data file")
    assert(t.read.orderBy("k").collect().toSeq.map(_.toSeq) ==
      Seq(Seq(1L, 10L), Seq(2L, 20L)))
  }

  test("P1: append with a column's old name after a rename is refused") {
    val t = table(renamed = true)
    refused(t)(t.append(Seq((3L, 30L)).toDF("k", "v")))
  }

  test("P2: a STRING frame column into a BIGINT column is refused") {
    val t = table()
    refused(t)(t.append(Seq(("3", 30L)).toDF("k", "v")))
  }

  test("P3: an extra frame column is refused, not dropped") {
    val t = table()
    refused(t)(t.append(Seq((3L, 30L, "x")).toDF("k", "v", "extra")))
  }

  test("P4: upsert with a column's old name after a rename is refused") {
    val t = table(renamed = true)
    refused(t)(t.upsert(Seq((1L, 11L)).toDF("k", "v"), Seq("k")))
  }

  test("P7: a DataSource overwrite with an unrelated schema is refused") {
    val t = table()
    refused(t)(Seq(("a", 1.5)).toDF("x", "y")
      .write.format("graft").mode("overwrite").save(t.location))
  }

  test("P8: the streaming sink's append after a rename is refused") {
    val t = table(renamed = true)
    refused(t)(GraftSink.appendBatch(t, "q")(Seq((3L, 30L)).toDF("k", "v"), 0L))
  }

  test("P9: an UPDATE whose SET turns a BIGINT column DOUBLE is refused") {
    val t = table()
    refused(t)(t.updateWhere(col("k") === 1L, Map("v" -> col("v") * 1.5)))
  }

  test("merge with a mistyped source column is refused") {
    val t = table()
    refused(t)(t.merge(Seq((1L, "x")).toDF("k", "v"), Seq("k")))
  }

  test("a missing non-nullable column is refused") {
    val t = table()
    refused(t)(t.append(Seq(3L).toDF("k")))
  }

  test("add_files adopts files only under the rule with no promotion or case folding") {
    val t = table()
    val dir = tmpDir("wschema-add")
    Seq((3, 30L)).toDF("k", "v").write.parquet(s"$dir/int")
    val e = intercept[IllegalArgumentException](t.addFiles(s"$dir/int"))
    assert(e.getMessage.contains("schema mismatch") && e.getMessage.contains("int"))
    // another case: the footer stats would stay keyed `V`, where the
    // metadata answer for max(v) never looks
    Seq((30L, 3L)).toDF("V", "k").write.parquet(s"$dir/case")
    val e2 = intercept[IllegalArgumentException](t.addFiles(s"$dir/case"))
    assert(e2.getMessage.contains("unknown column V"), e2.getMessage)
    // another column order only: adopted, read back by name, and in the
    // metadata answer
    Seq((30L, 3L)).toDF("v", "k").write.parquet(s"$dir/ok")
    assert(t.addFiles(s"$dir/ok") == 1L)
    assert(t.read.orderBy("k").collect().toSeq.map(_.toSeq) ==
      Seq(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 30L)))
    assert(spark.read.format("graft").load(t.dir.toString).agg(max("v"))
      .collect().head.getLong(0) == 30L)
  }

  // (k BIGINT NOT NULL, v DOUBLE, d DECIMAL(10,2), s STRING, n INT)
  private val wide = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", DoubleType),
    StructField("d", DecimalType(10, 2)), StructField("s", StringType),
    StructField("n", IntegerType)))

  /** Another column order and case, INT → BIGINT, REAL → DOUBLE,
    * DECIMAL(5,2) → DECIMAL(10,2), and nullable `n` left out. */
  private def promotable: DataFrame = spark.createDataFrame(
    Seq(Row("a", new java.math.BigDecimal("123.45"), 0.5f, 1),
      Row(null, new java.math.BigDecimal("-0.01"), -1.25f, 2)).asJava,
    StructType(Seq(StructField("S", StringType), StructField("D", DecimalType(5, 2)),
      StructField("V", FloatType), StructField("K", IntegerType))))

  private val writes: Seq[(String, (GraftTable, DataFrame) => Any)] = Seq(
    "append" -> ((t, df) => t.append(df)),
    "upsert" -> ((t, df) => t.upsert(df, Seq("k"))),
    // key names resolve like the frame's columns
    "upsert and deleteByKeys keyed K" -> ((t, df) => {
      t.upsert(df, Seq("K")); t.deleteByKeys(Seq(3L).toDF("K")) }),
    "merge" -> ((t, df) => t.merge(df, Seq("k"))),
    "appendBatch" -> ((t, df) => GraftSink.appendBatch(t, "q")(df, 0L)),
    "overwrite" -> ((t, df) => t.overwrite(df)))

  writes.foreach { case (name, write) =>
    test(s"$name takes another order and case and promotable types, exactly") {
      val t = GraftTable.create(spark, tmpDir("wschema-ok") + "/t", wide)
      write(t, promotable)
      val back = t.read
      assert(back.schema.map(f => (f.name, f.dataType)) == wide.map(f => (f.name, f.dataType)))
      assert(back.orderBy("k").collect().toSeq.map(_.toSeq) == Seq(
        Seq(1L, 0.5, new java.math.BigDecimal("123.45"), "a", null),
        Seq(2L, -1.25, new java.math.BigDecimal("-0.01"), null, null)))
      // the files hold the table's types: a plain parquet read agrees
      assert(spark.read.parquet(t.files.select("path").as[String].collect(): _*)
        .schema.map(f => (f.name, f.dataType)) == wide.map(f => (f.name, f.dataType)))
    }
  }
}
