package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The r19 fused signature kernels (graft_minhash / graft_sq8) must
  * agree EXACTLY with the higher-order-function chains they replace —
  * same arithmetic widths, same null-element skipping (array_min /
  * array_max semantics), same empty/NULL/NaN/maxabs=0 edges — in both
  * codegen and interpreted paths. These pins are what make the
  * replacements pure optimizations: the oracle-checked entries
  * (d03/d26 minhash signatures; s06/s08 quantized candidates) compute
  * bit-identical values through them. */
class SigKernelSpec extends SparkSpec {

  // the DedupQueries constants, restated literally so a drift in either
  // place breaks this pin
  private val P = 4294967311L
  private val NumHashes = 16
  private val hashA: Seq[Long] =
    new java.util.Random(0x6d696e68L).longs(NumHashes, 1L, 1L << 31).toArray.toSeq
  private val hashB: Seq[Long] = (0 until NumHashes).map(j => 104729L * (j + 1))

  test("graft_minhash equals the 16 array_min(transform) lambdas on real shingles") {
    GraftFunctions.ensureRegistered(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        graft.ext.DedupQueries.hashedShingles(col("text")).as("hs"))
    val sigv = call_function("graft_minhash", col("hs"),
      array(hashA.map(lit): _*), array(hashB.map(lit): _*), lit(P))
    val foldSig = array((0 until NumHashes).map { j =>
      array_min(transform(col("hs"), h => (h * hashA(j) + hashB(j)) % P))
    }: _*)
    val mismatches = docs
      .select(sigv.as("native"), foldSig.as("folded"))
      .filter(!(col("native") <=> col("folded")))
      .count()
    assert(mismatches == 0)
    assert(docs.count() > 0)
  }

  test("graft_minhash edge semantics: empty, null-element, NULL input") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      """SELECT graft_minhash(CAST(array() AS ARRAY<BIGINT>),
        |                     array(3L, 5L), array(7L, 11L), 97L) AS empty,
        |       graft_minhash(array(10L, CAST(NULL AS BIGINT), 4L),
        |                     array(3L, 5L), array(7L, 11L), 97L) AS withnull,
        |       graft_minhash(CAST(NULL AS ARRAY<BIGINT>),
        |                     array(3L, 5L), array(7L, 11L), 97L) AS nullin
        |""".stripMargin).collect()(0)
    // empty/all-null hs: array_min of each transform is NULL
    assert(r.getSeq[Any](0) == Seq(null, null))
    // null elements are skipped, mins over {10, 4}
    assert(r.getSeq[Any](1) == Seq(19L, 31L))
    assert(r.isNullAt(2))
  }

  test("graft_minhash overflow follows the session ANSI setting, like the fold") {
    GraftFunctions.ensureRegistered(spark)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    intercept[Throwable] {
      spark.sql(s"SELECT graft_minhash(array(${Long.MaxValue}L), " +
        "array(2L), array(0L), 97L)").collect()
    }
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val r = spark.sql(
        s"""SELECT graft_minhash(array(${Long.MaxValue}L),
           |                     array(2L), array(0L), 97L)[0] AS w,
           |       array_min(transform(array(${Long.MaxValue}L),
           |                 h -> (h * 2L + 0L) % 97L)) AS f
           |""".stripMargin).collect()(0)
      assert(r.getLong(0) == r.getLong(1))
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  /** The literal chain graft_sq8 replaces, restated verbatim from the
    * pre-r19 quantize. */
  private def sq8Fold(emb: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val maxabs = array_max(transform(emb, x => abs(x.cast("double"))))
    transform(emb, x => when(maxabs === 0.0, lit(0L))
      .otherwise(floor(x.cast("double") * 127.0 / maxabs)))
  }

  test("graft_sq8 equals the array_max+floor transform chain on real embeddings") {
    GraftFunctions.ensureRegistered(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mismatches = e
      .select(call_function("graft_sq8", col("embedding")).as("native"),
        sq8Fold(col("embedding")).as("folded"))
      .filter(!(col("native") <=> col("folded")))
      .count()
    assert(mismatches == 0)
    assert(e.count() > 0)
  }

  test("graft_sq8 edge semantics match the chain: zeros, empty, nulls, NaN") {
    GraftFunctions.ensureRegistered(spark)
    val cases = Seq(
      "array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))", // maxabs=0 -> all 0
      "CAST(array() AS ARRAY<FLOAT>)",                 // empty -> empty
      "array(CAST(NULL AS FLOAT))",                    // all-null -> [NULL]
      // null element + nonzero maxabs -> [63, NULL, -127]
      "array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(-2.0 AS FLOAT))",
      // null element + maxabs=0 -> when(maxabs=0) zeroes even the null
      "array(CAST(NULL AS FLOAT), CAST(0.0 AS FLOAT))",
      // NaN: maxabs=NaN (array_max: NaN greatest), floor(x/NaN) casts to 0
      "array(CAST('NaN' AS FLOAT), CAST(1.0 AS FLOAT))")
    cases.foreach { c =>
      val r = spark.sql(
        s"SELECT graft_sq8($c) AS native").collect()(0)
      val f = spark.sql(s"SELECT $c AS embedding")
        .select(sq8Fold(col("embedding")).as("folded")).collect()(0)
      assert((r.isNullAt(0) && f.isNullAt(0)) ||
        r.getSeq[Any](0) == f.getSeq[Any](0), s"mismatch for $c: $r vs $f")
    }
    // explicit spot-checks of the two non-obvious edges
    val spot = spark.sql(
      """SELECT graft_sq8(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT),
        |                       CAST(-2.0 AS FLOAT))) AS withnull,
        |       graft_sq8(array(CAST(NULL AS FLOAT), CAST(0.0 AS FLOAT))) AS zeronull,
        |       graft_sq8(CAST(NULL AS ARRAY<FLOAT>)) AS nullin
        |""".stripMargin).collect()(0)
    assert(spot.getSeq[Any](0) == Seq(63L, null, -127L))
    assert(spot.getSeq[Any](1) == Seq(0L, 0L))
    assert(spot.isNullAt(2))
  }
}
