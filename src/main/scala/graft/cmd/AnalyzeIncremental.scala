package graft.cmd

import java.time.Clock

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.GraftTable

/** Incremental ANALYZE over mergeable per-file sketches — the
  * Spark-native twin of the extended (Theta-sketch) statistics the
  * reference enables in Trino's Iceberg connector
  * (docker/trino/catalog/iceberg.properties:10) and keeps fresh by
  * re-running ANALYZE on a day gate (__main__.py:180-199).
  *
  * Where [[Analyze]] rescans the whole table each run, this command
  * keeps a per-(file, column) sketch store under `_graft/stats_inc/`:
  *
  *   path, column_name, n_rows, n_nonnull, ndv_sketch (Datasketches
  *   HLL binary via `hll_sketch_agg`), min_str, max_str
  *
  * A run scans ONLY live data files with no sketch yet (one distributed
  * `_metadata.file_path` group-aggregate over exactly those files) and
  * appends their rows. Table-level stats then MERGE per column:
  * `sum` for counts, `hll_union_agg` + `hll_sketch_estimate` for NDV,
  * typed min/max re-derived from the per-file extrema. After `optimize`
  * rewrites files, only the rewritten output is re-sketched — at 100 TB
  * an ANALYZE after appending 1% of data costs 1% of a full scan.
  */
object AnalyzeIncremental {
  val StoreSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("column_name", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_nonnull", LongType, nullable = false),
    StructField("ndv_sketch", BinaryType, nullable = true),
    StructField("min_str", StringType, nullable = true),
    StructField("max_str", StringType, nullable = true),
    // KLL doubles sketch (numeric columns only) — mergeable quantiles
    StructField("kll_sketch", BinaryType, nullable = true)))

  private def storeDir(table: GraftTable): Path =
    new Path(table.dir, "_graft/stats_inc")

  /** hll_sketch_agg accepts int/bigint/string/binary; other types are
    * sketched on a canonical string rendering. */
  private def sketchable(c: org.apache.spark.sql.Column, dt: DataType) = dt match {
    case IntegerType | LongType | StringType | BinaryType => c
    case _ => c.cast(StringType)
  }

  private def orderable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | TimestampType | TimestampNTZType |
         DateType | BooleanType => true
    case _ => false
  }

  /** Sketch uncovered live files; returns how many files were scanned. */
  def run(table: GraftTable, clock: Clock): Long = table.writeOp {
    val spark = table.spark
    val live = table.currentSnapshot.fold(graft.meta.FileScope.Empty)(table.scopeOf)
    val covered: Set[String] =
      if (!table.fileSystem.exists(storeDir(table))) Set.empty
      else spark.read.schema(StoreSchema).parquet(storeDir(table).toString)
        .select("path").distinct().collect().map(_.getString(0)).toSet
    val todo = live.subset(f => !covered(f.path))
    if (todo.files.isEmpty) return 0L

    val schema = table.schema
    // Schema-aligned read: sketches are keyed by CURRENT column names
    // even for files written before a rename.
    val data = table.readFilesAligned(todo, Some("__graft_fp"))
    val perFile = data.groupBy(col("__graft_fp").as("raw_path"))
      .agg(count(lit(1)).as("n_rows"),
        schema.fields.toSeq.flatMap { f =>
          val c = data(f.name)
          val mm =
            if (orderable(f.dataType))
              Seq(min(c).cast(StringType).as(s"min:${f.name}"),
                max(c).cast(StringType).as(s"max:${f.name}"))
            else Seq(lit(null).cast(StringType).as(s"min:${f.name}"),
              lit(null).cast(StringType).as(s"max:${f.name}"))
          val kll = f.dataType match {
            case _: NumericType =>
              kll_sketch_agg_double(c.cast(DoubleType)).as(s"kll:${f.name}")
            case _ => lit(null).cast(BinaryType).as(s"kll:${f.name}")
          }
          Seq(count(c).as(s"nn:${f.name}"),
            hll_sketch_agg(sketchable(c, f.dataType)).as(s"hll:${f.name}"),
            kll) ++ mm
        }: _*)
    // Long format (one row per file × column) via a single explode — a
    // per-column unionAll would re-execute the whole sketch aggregation
    // once per column (Catalyst does not dedupe common subtrees across
    // union branches).
    val entries = array(schema.fields.toSeq.map { f =>
      struct(lit(f.name).as("column_name"),
        col(s"nn:${f.name}").as("n_nonnull"),
        col(s"hll:${f.name}").as("ndv_sketch"),
        col(s"min:${f.name}").as("min_str"),
        col(s"max:${f.name}").as("max_str"),
        col(s"kll:${f.name}").as("kll_sketch"))
    }: _*)
    val rows = perFile.select(
        org.apache.spark.sql.graft.CatalystShims.normalizePath(col("raw_path")).as("path"),
        col("n_rows"), explode(entries).as("e"))
      .select(col("path"), col("e.column_name"), col("n_rows"),
        col("e.n_nonnull"), col("e.ndv_sketch"), col("e.min_str"),
        col("e.max_str"), col("e.kll_sketch"))
    rows.write.mode("append").parquet(storeDir(table).toString)
    table.fileSystem.delete(new Path(storeDir(table), "_SUCCESS"), false)
    todo.files.size.toLong
  }

  /** Merged table-level stats from the per-file sketches, restricted to
    * the CURRENT snapshot's files (stale sketches for expired/rewritten
    * files simply stop matching and are ignored). Same 7-column SHOW
    * STATS shape as [[Analyze.statsRelation]]. */
  def statsRelation(table: GraftTable): DataFrame = {
    val spark = table.spark
    import spark.implicits._
    val schema = table.schema
    val liveFiles = table.files.select("path")
    val store =
      if (!table.fileSystem.exists(storeDir(table)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StoreSchema)
      else spark.read.schema(StoreSchema).parquet(storeDir(table).toString)

    // ONE merge pass: counts, HLL union, and the per-file extrema lists
    // in the same aggregation (the lists are O(#files) — driver-safe).
    val merged = store.join(liveFiles, Seq("path")) // inner: live files only
      .groupBy($"column_name")
      .agg(sum($"n_rows").as("rows_total"),
        sum($"n_nonnull").as("nn_total"),
        hll_sketch_estimate(hll_union_agg($"ndv_sketch"))
          .cast(DoubleType).as("ndv"),
        collect_list($"min_str").as("mins"),
        collect_list($"max_str").as("maxs"))
      .collect().map(r => r.getString(0) -> r).toMap

    // typed re-derivation of min/max: lexicographic string min is wrong
    // for numerics, so reduce the per-file extrema under the column type.
    val typedMm: Map[String, (String, String)] = merged.collect {
      case (name, r) if orderable(schema(name).dataType) =>
        def ext(vs: Seq[String], isMin: Boolean): String = {
          val vals = vs.filter(_ != null)
          if (vals.isEmpty) null
          else schema(name).dataType match {
            case _: NumericType =>
              val ds = vals.map(BigDecimal(_))
              (if (isMin) ds.min else ds.max).bigDecimal.toPlainString
            case _ => if (isMin) vals.min else vals.max
          }
        }
        name -> (ext(r.getSeq[String](4), isMin = true),
          ext(r.getSeq[String](5), isMin = false))
    }

    import scala.jdk.CollectionConverters._
    val totalRows = table.currentSnapshot.map(_.totalRows).getOrElse(0L)
    val out = schema.fields.toSeq.map { f =>
      merged.get(f.name) match {
        case Some(r) =>
          val n = r.getLong(1)
          val nn = r.getLong(2)
          val frac: Any = if (n == 0) null else (n - nn).toDouble / n
          val (lo, hi) = typedMm.getOrElse(f.name, (null, null))
          org.apache.spark.sql.Row(f.name, null, r.getDouble(3), frac, null, lo, hi)
        case None =>
          org.apache.spark.sql.Row(f.name, null, null, null, null, null, null)
      }
    } :+ org.apache.spark.sql.Row(null, null, null, null, totalRows.toDouble, null, null)
    spark.createDataFrame(out.asJava, Analyze.StatsSchema)
  }

  /** Merged approximate quantiles from the per-file KLL sketches,
    * restricted to live files — incremental percentiles: appending 1%
    * of data re-sketches 1%, and any quantile of the WHOLE table is one
    * cheap merge over the store (KLL merge keeps the rank-error bound;
    * default k ≈ 1.7% rank error). One row per numeric column, one
    * column per requested quantile (`p50`, `p95`, …). */
  def quantiles(table: GraftTable, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1))
    val spark = table.spark
    import spark.implicits._
    val store =
      if (!table.fileSystem.exists(storeDir(table)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StoreSchema)
      else spark.read.schema(StoreSchema).parquet(storeDir(table).toString)
    val merged = store.join(table.files.select("path"), Seq("path"))
      .filter($"kll_sketch".isNotNull)
      .groupBy($"column_name")
      .agg(kll_merge_agg_double($"kll_sketch").as("m"))
    val qCols = qs.map(q =>
      kll_sketch_get_quantile_double($"m", lit(q))
        .as(s"p${math.round(q * 100)}"))
    merged.select(($"column_name" +: qCols): _*).orderBy("column_name")
  }
}
