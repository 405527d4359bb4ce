package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.meta.GraftTable

/** The footer-statistics commit fast path: small commits build their
  * manifest from the parquet footers the write just produced — no
  * second Spark job over the data — and MUST emit byte-identical stats
  * to the distributed aggregation (same null counts, same
  * string-rendered min/max), or file-skipping semantics would drift
  * between the two paths. A decimal column keeps a commit on the
  * distributed path, which serves as the reference below. */
class FooterInventorySpec extends SparkSpec {

  private def statsOf(t: GraftTable): Seq[Row] =
    t.files
      .select("record_count", "null_counts", "min_values", "max_values")
      .collect().toSeq

  /** Nested columns over every definition level of their first leaf,
    * keyed on `id`: a null list, an empty list and a list holding a
    * null element; a map and a struct that are null in some rows; and
    * a never-null array. */
  private def withNested(df: DataFrame): DataFrame = {
    val k = col("id") % 3
    df.withColumn("arr", when(k === 1, lit(null).cast("array<string>"))
        .when(k === 2, array().cast("array<string>"))
        .otherwise(array(lit("x"), lit(null).cast("string"))))
      .withColumn("m", when(k === 2, lit(null).cast("map<string,bigint>"))
        .otherwise(map(lit("k"), col("id"))))
      .withColumn("st", when(k === 0,
          lit(null).cast("struct<a:bigint,b:string>"))
        .otherwise(struct(col("id").as("a"),
          lit(null).cast("string").as("b"))))
      .withColumn("req", array(col("id")))
  }

  /** A decimal column: the guard keeps such commits distributed. */
  private def withDecimal(df: DataFrame): DataFrame =
    df.withColumn("dec", col("id").cast("decimal(10,2)"))

  private def nullCounts(t: GraftTable): Map[String, Map[String, Long]] =
    t.files.select("min_values", "null_counts").collect().toSeq.map(r =>
      r.getMap[String, String](0)("id") ->
        (r.getMap[String, Long](1).toMap - "dec")).toMap

  private def mixed = {
    import spark.implicits._
    Seq(
      (1L, Option("alpha"), 1.5, Option(Timestamp.valueOf("2024-01-01 10:00:00.123456")),
        Option(Date.valueOf("2024-01-01")), Option(10)),
      (2L, Option("omega"), -2.75, Option(Timestamp.valueOf("2025-06-30 23:59:59.999999")),
        Option(Date.valueOf("2025-12-31")), None),
      (3L, None, 0.0, None, None, Option(-4))
    ).toDF("id", "name", "score", "ts", "d", "opt")
  }

  test("footer path fires on a flat commit and matches the distributed stats") {
    val df = mixed
    val before = GraftTable.footerInventoryHits.get

    val fast = GraftTable.create(spark, tmpDir("fi_fast") + "/t", df.schema)
    fast.append(df.repartition(1))
    assert(GraftTable.footerInventoryHits.get == before + 1,
      "footer fast path did not fire on a flat micros-timestamp commit")

    // Same rows plus nested columns → still the footer path.
    val nestedDf = withNested(df)
    val nested = GraftTable.create(spark, tmpDir("fi_nested") + "/t",
      nestedDf.schema)
    nested.append(nestedDf.repartition(1))
    assert(GraftTable.footerInventoryHits.get == before + 2,
      "nested columns must stay on the footer path")

    // ... plus a decimal column → guard rejects, distributed path.
    val slowDf = withDecimal(nestedDf)
    val slow = GraftTable.create(spark, tmpDir("fi_slow") + "/t", slowDf.schema)
    slow.append(slowDf.repartition(1))
    assert(GraftTable.footerInventoryHits.get == before + 2,
      "decimal column must force the distributed inventory")

    val Seq(f) = statsOf(fast)
    val Seq(n) = statsOf(nested)
    val Seq(s) = statsOf(slow)
    assert(f.getLong(0) == 3 && n.getLong(0) == 3 && s.getLong(0) == 3)
    assert(n.getMap[String, Long](1) == (s.getMap[String, Long](1) - "dec"),
      "nested-column null counts drifted from the distributed aggregation")
    assert(n.getMap[String, String](2) == (s.getMap[String, String](2) - "dec"))
    assert(n.getMap[String, String](3) == (s.getMap[String, String](3) - "dec"))
    val nn = n.getMap[String, Long](1)
    assert(Seq("arr", "m", "st").map(nn) == Seq(1L, 1L, 1L) && nn("req") == 0L)
    val cols = Seq("id", "name", "score", "ts", "d", "opt")
    for (c <- cols) {
      assert(f.getMap[String, Long](1).get(c) == s.getMap[String, Long](1).get(c),
        s"null count drift on $c")
      assert(f.getMap[String, String](2).get(c) == s.getMap[String, String](2).get(c),
        s"min drift on $c: footer=${f.getMap[String, String](2).get(c)} " +
          s"distributed=${s.getMap[String, String](2).get(c)}")
      assert(f.getMap[String, String](3).get(c) == s.getMap[String, String](3).get(c),
        s"max drift on $c")
    }
    // spot-pin the exact renderings the pruning layer casts back
    val mins = f.getMap[String, String](2)
    val maxs = f.getMap[String, String](3)
    assert(mins("ts") == "2024-01-01 10:00:00.123456")
    assert(maxs("ts") == "2025-06-30 23:59:59.999999")
    assert(mins("d") == "2024-01-01" && maxs("d") == "2025-12-31")
    assert(mins("score") == "-2.75" && maxs("score") == "1.5")
    assert(mins("name") == "alpha" && maxs("name") == "omega")
    assert(f.getMap[String, Long](1)("name") == 1L)
  }

  test("NaN doubles force fallback; bounds still come from the distributed path") {
    import spark.implicits._
    val df = Seq((1L, 1.0), (2L, Double.NaN), (3L, -5.0)).toDF("id", "v")
    val before = GraftTable.footerInventoryHits.get
    val t = GraftTable.create(spark, tmpDir("fi_nan") + "/t", df.schema)
    t.append(df.repartition(1))
    // parquet drops float bounds when a chunk contains NaN → must not
    // serve half-stats from the footer
    assert(GraftTable.footerInventoryHits.get == before,
      "NaN chunk must fall back to the distributed inventory")
    val Seq(r) = statsOf(t)
    assert(r.getMap[String, String](2)("id") == "1")
    assert(r.getMap[String, String](3)("id") == "3")
  }

  test("all-null column gets null bounds; skipping still keeps answers exact") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String]), (2L, None), (3L, None))
      .toDF("id", "s")
    val before = GraftTable.footerInventoryHits.get
    val t = GraftTable.create(spark, tmpDir("fi_null") + "/t", df.schema)
    t.append(df.repartition(1))
    assert(GraftTable.footerInventoryHits.get == before + 1)
    val Seq(r) = statsOf(t)
    assert(r.getMap[String, Long](1)("s") == 3L)
    assert(r.getMap[String, String](2).get("s").contains(null))
    assert(r.getMap[String, String](3).get("s").contains(null))
  }

  test("partitioned commits derive transform bounds from footers, matching distributed") {
    import spark.implicits._
    import graft.meta.PartitionSpec
    val df = Seq(
      (1L, Timestamp.valueOf("2026-01-01 01:00:00"), "alpha-one"),
      (2L, Timestamp.valueOf("2026-01-02 23:59:59"), "alpha-two"),
      (3L, Timestamp.valueOf("2026-01-04 12:00:00"), "omega-xyz"),
      (4L, Timestamp.valueOf("2026-01-04 18:30:00"), "omega-abc")
    ).toDF("id", "ts", "name").repartition(2, $"id")
    val specs = Seq(PartitionSpec.days("ts"), PartitionSpec.truncate(4, "name"),
      PartitionSpec.identity("id"))

    val before = GraftTable.footerInventoryHits.get
    val fastDf = withNested(df)
    val fast = GraftTable.create(spark, tmpDir("fi_part") + "/t",
      fastDf.schema, specs)
    fast.append(fastDf)
    assert(GraftTable.footerInventoryHits.get == before + 1,
      "days/truncate/identity specs must be footer-derivable")

    // same data + a decimal column → guard rejects → distributed path
    val slowDf = withDecimal(fastDf)
    val slow = GraftTable.create(spark, tmpDir("fi_part_slow") + "/t",
      slowDf.schema, specs)
    slow.append(slowDf)
    assert(GraftTable.footerInventoryHits.get == before + 1)
    assert(nullCounts(fast) == nullCounts(slow))

    def bounds(t: GraftTable): Map[(String, String), (String, String)] =
      t.files.select("min_values", "max_values").collect().toSeq.map { r =>
        val mn = r.getMap[String, String](0)
        val mx = r.getMap[String, String](1)
        (mn("id"), mx("id")) ->
          ((s"${mn("days_ts")}..${mx("days_ts")}"),
            (s"${mn("trunc4_name")}..${mx("trunc4_name")}"))
      }.toMap
    // keyed by each file's id range (stable across both tables: same
    // clustering), the derived transform bounds must match exactly
    assert(bounds(fast) == bounds(slow))

    // and partition pruning over the footer-built bounds stays exact
    val day = PartitionSpec.days("ts")
      .expr(lit("2026-01-04 00:00:00").cast("timestamp"))
    val scan = fast.readPrunedPartition("days_ts" -> day)
    assert(scan.filesScanned < scan.filesTotal,
      s"pruning must skip (${scan.filesScanned}/${scan.filesTotal})")
    assert(scan.df.filter(to_date($"ts") === "2026-01-04").count() == 2)
  }

  test("month/year/hour transform bounds derive from footers, matching distributed") {
    import spark.implicits._
    import graft.meta.PartitionSpec
    val df = Seq(
      (1L, Timestamp.valueOf("2025-11-30 23:00:00")),
      (2L, Timestamp.valueOf("2026-01-01 00:30:00")),
      (3L, Timestamp.valueOf("2026-03-15 12:00:00")),
      (4L, Timestamp.valueOf("2026-03-15 18:45:00"))
    ).toDF("id", "ts").repartition(2, $"id")
    val specs = Seq(PartitionSpec.months("ts"), PartitionSpec.years("ts"),
      PartitionSpec.hours("ts"))

    val before = GraftTable.footerInventoryHits.get
    val fastDf = withNested(df)
    val fast = GraftTable.create(spark, tmpDir("fi_tempo") + "/t",
      fastDf.schema, specs)
    fast.append(fastDf)
    assert(GraftTable.footerInventoryHits.get == before + 1,
      "month/year/hour specs must be footer-derivable")

    val slowDf = withDecimal(fastDf)
    val slow = GraftTable.create(spark, tmpDir("fi_tempo_slow") + "/t",
      slowDf.schema, specs)
    slow.append(slowDf)
    assert(GraftTable.footerInventoryHits.get == before + 1)
    assert(nullCounts(fast) == nullCounts(slow))

    def bounds(t: GraftTable): Map[(String, String), Seq[(String, String)]] =
      t.files.select("min_values", "max_values").collect().toSeq.map { r =>
        val mn = r.getMap[String, String](0)
        val mx = r.getMap[String, String](1)
        (mn("id"), mx("id")) ->
          Seq("months_ts", "years_ts", "hours_ts").map(k => (mn(k), mx(k)))
      }.toMap
    assert(bounds(fast) == bounds(slow))

    // spot-check the Iceberg output contract: 2026-03 = 674 months,
    // 56 years after the epoch
    val all = bounds(fast).values.flatten.toSeq
    assert(all.exists { case (_, hi) => hi == "674" })
    assert(all.exists { case (_, hi) => hi == "56" })

    // pruning over the derived month bounds stays exact
    val m = PartitionSpec.months("ts")
      .expr(lit("2026-03-01 00:00:00").cast("timestamp"))
    val scan = fast.readPrunedPartition("months_ts" -> m)
    assert(scan.filesScanned < scan.filesTotal,
      s"pruning must skip (${scan.filesScanned}/${scan.filesTotal})")
    assert(scan.df.filter(month($"ts") === 3).count() == 2)
  }

  test("hours transform on TimestampNTZ is zone-independent under a non-UTC session") {
    import spark.implicits._
    import graft.meta.PartitionSpec
    // the engine's mains pin UTC, but a library user's session may not:
    // the footer-derived hour bounds (raw local micros) and the
    // distributed expr must agree REGARDLESS of session zone, or exact
    // pruning silently skips files containing matching rows
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val df = Seq((1L, "2025-12-31 23:10:00"), (2L, "2026-03-15 00:30:00"),
        (3L, "2026-03-15 18:45:00"), (4L, "2026-03-16 02:05:00"))
        .toDF("id", "raw")
        .select($"id", $"raw".cast("timestamp_ntz").as("ts"))
        .repartition(2, $"id")
      val specs = Seq(PartitionSpec.hours("ts"))

      val before = GraftTable.footerInventoryHits.get
      val fastDf = withNested(df)
      val fast = GraftTable.create(spark, tmpDir("fi_ntz_hours") + "/t",
        fastDf.schema, specs)
      fast.append(fastDf)
      assert(GraftTable.footerInventoryHits.get == before + 1,
        "NTZ hour spec must stay footer-derivable")
      val slowDf = withDecimal(fastDf)
      val slow = GraftTable.create(spark, tmpDir("fi_ntz_hours_slow") + "/t",
        slowDf.schema, specs)
      slow.append(slowDf)
      assert(GraftTable.footerInventoryHits.get == before + 1)
      assert(nullCounts(fast) == nullCounts(slow))

      def hourBounds(t: GraftTable): Map[String, (String, String)] =
        t.files.select("min_values", "max_values").collect().toSeq.map { r =>
          r.getMap[String, String](0)("id") ->
            ((r.getMap[String, String](0)("hours_ts"),
              r.getMap[String, String](1)("hours_ts")))
        }.toMap
      assert(hourBounds(fast) == hourBounds(slow),
        "footer vs distributed hour bounds drifted under a non-UTC zone")

      // the Iceberg contract value: zone-independent hours since epoch
      // of the raw local datetime — NOT shifted by America/New_York
      val expect = java.time.LocalDateTime.parse("2026-03-15T18:45:00")
        .toEpochSecond(java.time.ZoneOffset.UTC) / 3600L
      val all = hourBounds(fast).values.flatMap(b => Seq(b._1, b._2)).toSet
      assert(all.contains(expect.toString),
        s"expected zone-independent hour $expect in $all")

      // pruning with the (fixed) NTZ expr finds the row it must find
      val h = PartitionSpec.hours("ts").expr(
        lit("2026-03-15 18:45:00").cast("timestamp_ntz"),
        org.apache.spark.sql.types.TimestampNTZType)
      val scan = fast.readPrunedPartition("hours_ts" -> h)
      assert(scan.filesScanned < scan.filesTotal,
        s"pruning must skip (${scan.filesScanned}/${scan.filesTotal})")
      assert(scan.df.filter($"id" === 3L).count() == 1)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("bucket-partitioned commits fall back to the distributed inventory") {
    import spark.implicits._
    import graft.meta.PartitionSpec
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val before = GraftTable.footerInventoryHits.get
    val t = GraftTable.create(spark, tmpDir("fi_bucket") + "/t", df.schema,
      Seq(PartitionSpec.bucket(4, "id")))
    t.append(df)
    // a hash transform's output bounds cannot derive from value bounds
    assert(GraftTable.footerInventoryHits.get == before)
    val rs = t.files.select("min_values").collect().toSeq
    assert(rs.nonEmpty && rs.forall(
      _.getMap[String, String](0).contains("bucket4_id")),
      "distributed path must still bound the bucket output")
  }

  test("file skipping prunes identically over footer-built bounds") {
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") * 2).as("v"))
    val before = GraftTable.footerInventoryHits.get
    val t = GraftTable.create(spark, tmpDir("fi_prune") + "/t", df.schema)
    t.append(df.repartitionByRange(8, col("id")))
    assert(GraftTable.footerInventoryHits.get == before + 1,
      "8-file range-clustered append should take the footer path")
    val scan = t.readPruned("id", lit(100L), lit(199L))
    assert(scan.filesTotal == 8)
    assert(scan.filesScanned < scan.filesTotal,
      s"expected skipping, scanned ${scan.filesScanned}/${scan.filesTotal}")
    val got = scan.df.filter(col("id").between(100, 199))
      .agg(sum("v")).collect()(0).getLong(0)
    val want = df.filter(col("id").between(100, 199))
      .agg(sum("v")).collect()(0).getLong(0)
    assert(got == want)
  }
}
