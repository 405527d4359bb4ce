package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.GraftTable

/** Per-file bloom-filter skipping: on an UNSORTED high-cardinality
  * column every file's min/max range covers every probe value, so
  * bounds pruning degenerates to "scan everything"; the manifest bloom
  * (built at write time from `write.bloom-filter.columns`) restores
  * point-lookup skipping. */
class BloomScanSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("payload", StringType, nullable = true)))

  test("bloom filters prune point lookups min/max bounds cannot") {
    val loc = tmpDir("bloom") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.setProperties(Map(
      "write.bloom-filter.columns" -> "id",
      "write.bloom-filter.expected-rows" -> "10000"))
    assert(t.properties("write.bloom-filter.columns") == "id")

    // 4 interleaved appends: every file spans ~the full id range, so
    // min/max never prunes an id probe
    val df = spark.range(8000).select($"id",
      concat(lit("p"), $"id").as("payload"))
    (0 until 4).foreach(i => t.append(df.filter($"id" % 4 === i).coalesce(1)))
    val total = t.currentSnapshot.get.numFiles
    assert(total == 4L)

    // every manifest row carries a bloom for id
    assert(t.files.filter(element_at(col("blooms"), "id").isNotNull)
      .count() == total)

    val g = spark.read.format("graft").load(loc)
    assert(numFilesScanned(g) == total)
    // id = 17 lives in exactly one file (17 % 4 == 1); the bloom finds it
    val probe = g.filter($"id" === 17)
    assert(probe.as[(Long, String)].collect().toSeq == Seq((17L, "p17")))
    assert(numFilesScanned(probe) == 1L,
      "bloom should skip the three files that cannot contain id=17")
    // IN over two residues → at most two files
    val probe2 = g.filter($"id".isin(20L, 21L))
    assert(probe2.count() == 2L)
    assert(numFilesScanned(probe2) <= 2L)
    // a long IN list probes the blooms too: 40 ids of one residue
    val probe40 = g.filter($"id".isin((0 until 40).map(i => 3L + 4 * 49 * i): _*))
    assert(probe40.count() == 40L)
    assert(numFilesScanned(probe40) == 1L)
    // a value outside the table scans zero files
    assert(numFilesScanned(g.filter($"id" === 1000000L)) == 0L)
  }

  test("tables without the property are unaffected; optimize rebuilds blooms") {
    val loc = tmpDir("bloomoff") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    val df = spark.range(100).select($"id", lit("x").as("payload"))
    t.append(df)
    assert(t.files.filter(col("blooms").isNotNull).count() == 0)

    // enable later: only NEW files get blooms, until optimize rewrites
    t.setProperties(Map("write.bloom-filter.columns" -> "id",
      "write.bloom-filter.expected-rows" -> "1000"))
    t.append(spark.range(100, 200).select($"id", lit("y").as("payload")))
    val withBloom = t.files
      .filter(element_at(col("blooms"), "id").isNotNull).count()
    assert(withBloom >= 1 && withBloom < t.currentSnapshot.get.numFiles)

    t.optimize() // rewrite passes through inventory() → blooms everywhere
    assert(t.files.filter(element_at(col("blooms"), "id").isNull).count() == 0)
    assert(t.read.count() == 200)
  }
}
