package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.meta.GraftTable

/** The graft table format as a registered Spark data source
  * (META-INF/services) — `spark.read.format("graft").load(path)` and
  * `df.write.format("graft").mode(...).save(path)`.
  *
  * Read: a plain HadoopFsRelation whose file listing comes from
  * [[GraftFileIndex]], so snapshot isolation (only current-snapshot
  * files are listed) and manifest-bounds file skipping apply to any SQL
  * or DataFrame query with zero graft-specific code at the call site;
  * Catalyst's parquet pushdown and column pruning compose below it.
  *
  * Write: each save is ONE atomic snapshot commit (append or overwrite),
  * so concurrent readers keep seeing the previous snapshot until the log
  * flips — never a half-written directory. */
final class DefaultSource extends RelationProvider
  with CreatableRelationProvider with DataSourceRegister
  with StreamSourceProvider {
  override def shortName(): String = "graft"

  // ---- streaming source: snapshots become micro-batches ------------------
  // (see org.apache.spark.sql.graft.GraftStreamSource for semantics)

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))

  // option keys arrive as the caller typed them — accept either case
  private def opt(parameters: Map[String, String], name: String): Option[String] =
    parameters.get(name).orElse(parameters.get(name.toLowerCase))

  private def isChangeFeed(parameters: Map[String, String]): Boolean =
    opt(parameters, "readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val path = pathOf(parameters)
    require(GraftTable.exists(ctx.sparkSession, path),
      s"no graft table at $path")
    ("graft", org.apache.spark.sql.graft.GraftStreamSource.schemaFor(
      GraftTable.load(ctx.sparkSession, path), isChangeFeed(parameters)))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new org.apache.spark.sql.graft.GraftStreamSource(ctx, pathOf(parameters),
      opt(parameters, "startingSnapshotId").map(_.toLong).getOrElse(0L),
      maxSnapshotsPerTrigger =
        opt(parameters, "maxSnapshotsPerTrigger").map(_.toLong),
      maxFilesPerTrigger = opt(parameters, "maxFilesPerTrigger").map(_.toLong),
      changeFeed = isChangeFeed(parameters))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))
    val spark = sqlContext.sparkSession
    val table = GraftTable.load(spark, path)
    require(GraftTable.exists(spark, path), s"no graft table at $path")
    // metadata tables, the Iceberg `t.files` / `t.snapshots` analogue:
    //   spark.read.format("graft").option("metadata", "files").load(p)
    parameters.get("metadata") match {
      case Some(m) => return metadataRelation(sqlContext, table, m)
      case None =>
    }
    require(table.schemaVersions.size <= 1,
      "the graft DataSource serves un-evolved tables; use GraftTable.read " +
        "for schema-evolved tables (per-generation aligned scans)")
    // Time travel (Iceberg Spark's option shape): pin the scan — with
    // pushdown and file skipping intact — to a snapshot id, a branch
    // or tag head, or the newest snapshot at a timestamp. At most one.
    val asOf: Option[graft.meta.Snapshot] = {
      val picks = Seq(
        opt(parameters, "snapshotId").map { v =>
          table.snapshots.find(_.snapshotId == v.toLong).getOrElse(
            throw new IllegalArgumentException(s"no snapshot $v"))
        },
        opt(parameters, "branch").map { b =>
          val id = table.branches.getOrElse(b,
            throw new IllegalArgumentException(s"no branch $b"))
          table.snapshots.find(_.snapshotId == id).get
        },
        opt(parameters, "tag").map { tg =>
          val id = table.tags.getOrElse(tg,
            throw new IllegalArgumentException(s"no tag $tg"))
          table.snapshots.find(_.snapshotId == id).get
        },
        opt(parameters, "asOfTimestamp").map { ts =>
          val snaps = table.snapshots.filter(_.timestampMs <= ts.toLong)
          require(snaps.nonEmpty, s"no snapshot at or before $ts")
          snaps.maxBy(_.timestampMs)
        }).flatten
      require(picks.size <= 1, "at most one of snapshotId / branch / " +
        "tag / asOfTimestamp may be set")
      picks.headOption
    }
    // A HadoopFsRelation is a plain parquet scan — it cannot anti-join
    // position-delete files, and silently serving deleted rows would be
    // a correctness trap. Refuse loudly instead. (GraftTable's own MOR
    // machinery builds the relation directly — GraftTable.rawScan — and
    // applies the delete joins itself.)
    require(asOf.orElse(table.currentSnapshot).forall(s =>
        s.deleteManifests.isEmpty && s.eqDeleteManifests.isEmpty),
      "this graft table has outstanding merge-on-read delete files; " +
        "read via GraftTable.read (applies deletes) or run optimize() " +
        "to materialize them first")
    DefaultSource.relation(spark, table, asOf)
  }

  /** A simple scan-only relation over one of the table's metadata
    * DataFrames; all are tiny (O(files) or O(snapshots)). */
  private def metadataRelation(ctx: SQLContext, table: GraftTable,
                               which: String): BaseRelation = {
    val spark = ctx.sparkSession
    import spark.implicits._
    val df = which match {
      case "files" => table.files
      case "snapshots" =>
        table.snapshots.toDF()
          .withColumnRenamed("snapshotId", "snapshot_id")
          .withColumnRenamed("parentId", "parent_id")
          .withColumnRenamed("timestampMs", "committed_at_ms")
          .withColumnRenamed("numFiles", "num_files")
          .withColumnRenamed("totalBytes", "total_bytes")
          .withColumnRenamed("totalRows", "total_rows")
          // summary counts (null on logs predating them) — MOR debt
          // monitoring without a manifest scan
          .withColumnRenamed("deleteFileCount", "delete_file_count")
          .withColumnRenamed("eqDeleteFileCount", "eq_delete_file_count")
      case "refs" =>
        (table.branches.toSeq.map { case (n, id) => (n, id, "branch") } ++
          table.tags.toSeq.map { case (n, id) => (n, id, "tag") })
          .toDF("name", "snapshot_id", "kind")
      case "stats" => table.stats
      case "delete_files" => table.deleteFiles
      case "eq_delete_files" => table.eqDeleteFiles
      case "partitions" =>
        // Iceberg's partitions table: per-partition-tuple file/row/byte
        // totals, derived from the manifest's transform bounds. A file
        // whose bounds straddle several transform values (pre-evolution
        // or un-clustered data) reports as partition NULL ("mixed").
        import org.apache.spark.sql.functions._
        val spec = table.partitionSpec
        require(spec.nonEmpty, "partitions: table has no partition spec")
        val tupleCols = spec.map { f =>
          val mn = element_at(col("min_values"), f.name)
          val mx = element_at(col("max_values"), f.name)
          when(mn === mx, mn).as(f.name)
        }
        table.files
          .select((tupleCols :+ col("record_count") :+ col("size_bytes")): _*)
          .groupBy(spec.map(f => col(f.name)): _*)
          .agg(count(lit(1)).as("file_count"),
            sum("record_count").as("record_count"),
            sum("size_bytes").as("total_size_bytes"))
          .orderBy(spec.map(f => col(f.name)): _*)
      case "history" =>
        // Iceberg's history table: every snapshot + whether it is an
        // ancestor of the CURRENT head (false = orphaned by rollback)
        val all = table.snapshots
        val byId = all.map(s => s.snapshotId -> s).toMap
        val ancestors = Iterator
          .iterate(table.currentSnapshot.map(_.snapshotId).getOrElse(-1L))(
            id => byId.get(id).map(_.parentId).getOrElse(-1L))
          .takeWhile(_ != -1L).toSet
        all.map(s => (s.snapshotId, s.parentId, s.timestampMs, s.operation,
            ancestors(s.snapshotId)))
          .toDF("snapshot_id", "parent_id", "committed_at_ms", "operation",
            "is_current_ancestor")
      case "properties" =>
        // Trino/Iceberg's `"t$properties"`: current table properties as
        // (key, value) rows
        table.properties.toSeq.sortBy(_._1).toDF("key", "value")
      case "manifests" =>
        // the CURRENT snapshot's manifest list (Iceberg's manifests table)
        val fs = new org.apache.hadoop.fs.Path(table.location)
          .getFileSystem(spark.sessionState.newHadoopConf())
        table.currentSnapshot.map(_.manifests).getOrElse(Seq.empty)
          .map { m =>
            val p = new org.apache.hadoop.fs.Path(m)
            val len = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
            (m, len)
          }.toDF("path", "length")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table $other (files|snapshots|refs|stats|" +
          "history|manifests|delete_files|eq_delete_files|partitions|" +
          "properties)")
    }
    new BaseRelation with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: org.apache.spark.sql.types.StructType = df.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.rdd
    }
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))
    val spark = sqlContext.sparkSession
    val exists = GraftTable.exists(spark, path)
    val table =
      if (exists) GraftTable.load(spark, path)
      else GraftTable.create(spark, path, data.schema)
    mode match {
      case SaveMode.Append => table.append(data)
      case SaveMode.Overwrite => table.overwrite(data)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(s"graft table exists: $path")
        else table.append(data)
      case SaveMode.Ignore => if (!exists) table.append(data)
    }
    createRelation(sqlContext, parameters)
  }
}

object DefaultSource {
  /** The scan relation over `table` as of `asOf` (None: its current
    * snapshot): a plain parquet HadoopFsRelation whose file listing is
    * [[GraftFileIndex]]'s. Raw rows — outstanding deletes are the
    * caller's to refuse or apply. */
  private[graft] def relation(spark: SparkSession, table: GraftTable,
                              asOf: Option[graft.meta.Snapshot]): HadoopFsRelation = {
    // ANALYZE stats → Catalyst CBO (see GraftStatsRule): installed on
    // first load, rewrites this relation's plan stats at optimize time
    GraftStatsRule.ensureInstalled(spark)
    GraftCountRule.ensureInstalled(spark)
    HadoopFsRelation(
      location = new GraftFileIndex(spark, table, asOf),
      partitionSchema = new StructType(),
      dataSchema = table.schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
  }
}
