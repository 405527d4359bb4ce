package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import graft.meta.{GraftTable, ManifestIO}

/** Byte-level compatibility gate for the driver-local manifest I/O
  * (graft.meta.ManifestIO): a manifest written locally must read back
  * identically through the Spark reader, and a Spark-written manifest
  * must read back identically through the local reader — the two paths
  * are interchangeable on disk, so the size gate can flip between them
  * freely at any table size. */
class ManifestIOSpec extends SparkSpec {

  private lazy val hadoopConf = spark.sessionState.newHadoopConf()

  private def sampleRows: Seq[Row] = Seq(
    Row("file:/t/data/u1/part-0.parquet", 1234L, 10L,
      Map("a" -> 0L, "b" -> 3L), Map("a" -> "1", "b" -> "x"),
      Map("a" -> "9", "b" -> "z"), null, 1L),
    // null stat maps (zero-row file), null added id
    Row("file:/t/data/u1/part-1.parquet", 55L, 0L, null, null, null,
      null, null),
    // bloom bytes + a null map VALUE (all-null column has no bounds)
    Row("file:/t/data/u2/part-0.parquet", 777L, 2L,
      Map("a" -> 2L), Map("a" -> null), Map("a" -> null),
      Map("a" -> Array[Byte](1, 2, 3, -4)), 2L))

  private def norm(rows: Seq[Row]): Set[String] = rows.map { r =>
    val bloom = Option(r.getAs[scala.collection.Map[String, Array[Byte]]](6))
      .map(_.view.mapValues(v => Option(v).map(_.toSeq).orNull).toMap.toString)
      .orNull
    (r.toSeq.take(6) ++ Seq(bloom, r.get(7))).mkString("|")
  }.toSet

  test("local write → spark read round-trips every manifest shape") {
    val dir = new Path(tmpDir("manifestio"), "m1")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestIO.writeLocal(fs, spark.sessionState.newHadoopConf(), dir,
      sampleRows)
    val back = spark.read.schema(GraftTable.ManifestSchema)
      .parquet(dir.toString).collect().toSeq
    assert(norm(back) === norm(sampleRows))
  }

  test("spark write → local read round-trips every manifest shape") {
    val dir = new Path(tmpDir("manifestio"), "m2")
    spark.createDataFrame(sampleRows.asJava, GraftTable.ManifestSchema)
      .coalesce(1).write.parquet(dir.toString)
    val back = ManifestIO.readLocal(hadoopConf, Seq(dir.toString))
    assert(back.isDefined, "local read fell back on a Spark-written manifest")
    assert(norm(back.get) === norm(sampleRows))
  }

  test("local write → local read round-trips (cache-cold)") {
    val dir = new Path(tmpDir("manifestio"), "m3")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestIO.writeLocal(fs, spark.sessionState.newHadoopConf(), dir,
      sampleRows)
    val back = ManifestIO.readLocal(hadoopConf, Seq(dir.toString))
    assert(back.isDefined)
    assert(norm(back.get) === norm(sampleRows))
  }

  test("a missing manifest dir fails loudly — never reads as zero rows") {
    val dir = new Path(tmpDir("manifestio"), "vanished")
    // local read refuses (no silent empty, nothing cached) …
    assert(ManifestIO.readLocal(hadoopConf, Seq(dir.toString)).isEmpty,
      "a vanished log-referenced manifest must not read as empty — " +
        "empty delete manifests would resurrect MOR-deleted rows")
    // … so relation() falls to the distributed read, which fails loudly
    intercept[Exception] {
      ManifestIO.relation(spark, hadoopConf, Seq(dir.toString)).collect()
    }
    // and the miss was NOT cached as empty: once the dir appears, the
    // same path serves its real rows
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestIO.writeLocal(fs, spark.sessionState.newHadoopConf(), dir,
      sampleRows)
    val back = ManifestIO.readLocal(hadoopConf, Seq(dir.toString))
    assert(back.isDefined && norm(back.get) === norm(sampleRows))
  }

  test("relation() under the gate is LocalRelation-backed and filter-foldable") {
    val dir = new Path(tmpDir("manifestio"), "m4")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestIO.writeLocal(fs, spark.sessionState.newHadoopConf(), dir,
      sampleRows)
    val rel = ManifestIO.relation(spark, hadoopConf, Seq(dir.toString))
    import org.apache.spark.sql.functions.col
    val filtered = rel.filter(col("record_count") > 0L)
      .select("path", "added_snapshot_id")
    // Filter+Project fold into the LocalRelation: a collect is job-free
    assert(filtered.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(filtered.collect().map(_.getString(0)).toSet ===
      Set("file:/t/data/u1/part-0.parquet", "file:/t/data/u2/part-0.parquet"))
  }

  test("overwrite replaces prior local content (CAS-retry parity)") {
    val dir = new Path(tmpDir("manifestio"), "m5")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val conf = spark.sessionState.newHadoopConf()
    ManifestIO.writeLocal(fs, conf, dir, sampleRows)
    val two = sampleRows.take(2).map(r =>
      Row(r(0), r(1), r(2), r(3), r(4), r(5), r(6), 42L))
    ManifestIO.writeLocal(fs, conf, dir, two)
    val back = spark.read.schema(GraftTable.ManifestSchema)
      .parquet(dir.toString).collect()
    assert(back.length === 2)
    assert(back.forall(_.getLong(7) === 42L))
  }
}
