package graft.meta

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Literal, Predicate, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.graft.CatalystShims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Driver-local manifest parquet I/O.
  *
  * A maintenance commit is dominated not by data volume but by the NUMBER
  * of Spark actions it runs over KB-scale metadata: each manifest read or
  * write as a Spark job pays full plan analysis + scheduling latency
  * (~100 ms) to move a few kilobytes. At 100 TB that latency bounds the
  * micro-batch commit rate of CDC/streaming sinks, so metadata belongs on
  * the driver — exactly where Iceberg's own manifest reader/writer and
  * Delta's log replay run — while Spark jobs are reserved for data-scale
  * work (reference: trino_iceberg_maintenance/__main__.py:141-199 drives
  * the same maintenance through a Trino coordinator, which likewise plans
  * from coordinator-resident metadata).
  *
  * Scale posture: reads are SIZE-GATED. Below [[LocalReadMaxBytes]] of
  * manifest bytes the rows are read on the driver (with a per-JVM cache
  * of Catalyst internal rows — manifest dirs are UUID-named and
  * immutable once a commit lands, so cached rows can never go stale).
  * File listing is [[survivingFiles]]: there the keep predicate is
  * resolved against the manifest attributes and evaluated, interpreted,
  * over the cached rows — no query is planned or executed, so listing a
  * snapshot, pruning a scan or finding a write's candidate files starts
  * no SQL execution. [[relation]] serves the same rows as a
  * LocalRelation for callers that join or aggregate the manifest (joins
  * against it broadcast for free). Above the gate (a ~1M-file table's
  * manifests are GBs) both fall back to the distributed parquet read —
  * the bounds maps never touch the driver, preserving the posture
  * documented on [[graft.sources.GraftFileIndex]].
  *
  * Writes mirror the read gate: a commit whose inventory is already
  * driver-resident (the footer fast path) writes its single-file manifest
  * through parquet-mr directly — same bytes-on-disk contract as the Spark
  * write (Spark's own [[ParquetWriteSupport]] does the encoding), one
  * fewer job per commit. Replacement commits (CoW rewrites, binpack)
  * assemble the kept rows and the fresh inventory on the driver the same
  * way ([[GraftTable.commitReplacement]]). Distributed inventories
  * keep the Spark write; [[Commit.Manifest]] picks between the two.
  *
  * Data-file footers are read here too, through [[footer]] alone: the
  * footer inventory, empty-file pruning and embedded-schema reads.
  * Every entry point takes the caller's already-loaded Hadoop conf (one
  * per [[GraftTable]] handle, the conf its FileSystem is built from).
  * Copying the session conf, or letting parquet-mr build read options
  * on a fresh `Configuration`, re-parses Hadoop's default resources —
  * about 20 ms per call, several times per commit.
  */
object ManifestIO {

  /** Manifest sets at or below this many total bytes may be read on the
    * driver; larger sets always use the distributed parquet read. 32 MB
    * of manifest ≈ 100k files' entries — the same order as the (path,
    * size) list Spark's InMemoryFileIndex would hold for such a scan. */
  val LocalReadMaxBytes: Long = 32L << 20

  /** Driver-heap budget for cached manifest rows, tracked by the
    * on-disk byte size of each cached dir (a faithful proxy for decoded
    * row footprint). LRU eviction; a single entry can be at most
    * [[LocalReadMaxBytes]], so the worst case stays a few hundred MB
    * regardless of how many tables one driver serves. */
  private val MaxCachedBytes = 256L << 20

  /** manifest dir (or file) path → (decoded rows in Catalyst's internal
    * form, on-disk bytes). Access-ordered LRU bounded by
    * [[MaxCachedBytes]]; entries are immutable (UUID-named dirs,
    * rewritten only before their commit's CAS lands — i.e. before any
    * reader can name them). */
  private val cache =
    new java.util.LinkedHashMap[String, (IndexedSeq[InternalRow], Long)](
      64, 0.75f, true)
  private var cachedBytes = 0L

  private def cachePut(path: String, rows: IndexedSeq[InternalRow],
                       bytes: Long): Unit = cache.synchronized {
    Option(cache.remove(path)).foreach(old => cachedBytes -= old._2)
    cache.put(path, (rows, bytes))
    cachedBytes += bytes
    val it = cache.entrySet().iterator()
    while (cachedBytes > MaxCachedBytes && it.hasNext) {
      val e = it.next()
      if (e.getKey != path) { cachedBytes -= e.getValue._2; it.remove() }
    }
  }

  private def cacheGet(path: String): Option[(IndexedSeq[InternalRow], Long)] =
    cache.synchronized(Option(cache.get(path)))

  private lazy val toInternal =
    CatalystTypeConverters.createToCatalystConverter(GraftTable.ManifestSchema)
  private lazy val toScala =
    CatalystTypeConverters.createToScalaConverter(GraftTable.ManifestSchema)

  /** Seed the cache with just-written rows, priced at the REAL bytes
    * [[writeLocal]] returned — bloom-bearing rows can be ~200 KB each,
    * so a flat per-row estimate would let the byte bound lie. */
  private[graft] def cacheSeed(path: String, rows: IndexedSeq[Row],
                               bytes: Long): Unit =
    cachePut(path, rows.map(r => toInternal(r).asInstanceOf[InternalRow]), bytes)

  /** How many manifest reads were served driver-locally (one per
    * [[relation]] or [[survivingFiles]] call the cache or a driver read
    * answered). */
  private[graft] val localReadHits = new java.util.concurrent.atomic.AtomicLong

  /** The manifest relation for `paths`, for callers that join or
    * aggregate it — a LocalRelation over the cached rows under the size
    * gate, else the distributed parquet read. File listing goes through
    * [[survivingFiles]] instead. */
  def relation(spark: SparkSession, conf: Configuration,
               paths: Seq[String]): DataFrame =
    if (paths.isEmpty) emptyRelation(spark)
    else readLocalRows(conf, paths) match {
      case Some(rows) =>
        localReadHits.incrementAndGet()
        CatalystShims.ofRows(spark,
          LocalRelation(DataTypeUtils.toAttributes(GraftTable.ManifestSchema), rows))
      case None => distributedRelation(spark, paths)
    }

  private def distributedRelation(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(GraftTable.ManifestSchema).parquet(paths: _*)

  /** The files `paths` list whose manifest rows `keep` admits, as the
    * entries a [[graft.sources.GraftFileIndex]] lists: path and size
    * straight from the manifest (no file is listed or stat'ed), and the
    * added id that picks each data file's schema generation (a missing
    * one reads as 0). The one way src/main lists files from manifests.
    *
    * Under the size gate nothing is planned: `keep` is resolved once
    * against the manifest attributes (the analyzer alone, over a
    * relation with no rows), bound, and evaluated interpreted over the
    * cached rows; [[FileSkipping.KeepAll]] evaluates nothing. Above the
    * gate it is one Spark job over the manifest parquet. `keep` keeps a
    * row when it is TRUE (NULL drops, as in a filter). */
  def survivingFiles(spark: SparkSession, conf: Configuration, paths: Seq[String],
                     keep: Column): IndexedSeq[ManifestEntry] =
    if (paths.isEmpty) IndexedSeq.empty
    else readLocalRows(conf, paths) match {
      case Some(rows) =>
        localReadHits.incrementAndGet()
        val admitted =
          if (keep == FileSkipping.KeepAll) rows
          else rows.filter(admits(spark, keep))
        admitted.map(r => ManifestEntry(r.getUTF8String(0).toString, r.getLong(1),
          if (r.isNullAt(7)) 0L else r.getLong(7)))
      case None => distributedFiles(spark, paths, keep)
    }

  /** [[survivingFiles]] above the size gate: one Spark job filters the
    * manifest parquet. `private[graft]` so tests can run both paths
    * over the same small manifests. */
  private[graft] def distributedFiles(spark: SparkSession, paths: Seq[String],
                                      keep: Column): IndexedSeq[ManifestEntry] =
    distributedRelation(spark, paths).filter(keep)
      .select("path", "size_bytes", "added_snapshot_id")
      .collect().toIndexedSeq.map(r => ManifestEntry(r.getString(0),
        r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))

  /** The manifest attributes, over no rows: what [[admits]] resolves against. */
  private lazy val noRows =
    LocalRelation(DataTypeUtils.toAttributes(GraftTable.ManifestSchema))

  /** `keep` as an interpreted predicate over manifest rows: resolved by
    * the analyzer against the manifest attributes, its runtime-replaced
    * functions swapped for their replacements (the optimizer's
    * `ReplaceExpressions`, which interpreted evaluation needs), its
    * constant subexpressions folded (the optimizer's `ConstantFolding`:
    * the hull of a value list is one comparison per row, not a pass over
    * the list), bound to ordinals. */
  private def admits(spark: SparkSession, keep: Column): InternalRow => Boolean =
    CatalystShims.analyzeFilter(spark, keep, noRows) match {
      case Filter(cond, child) =>
        val p = Predicate.createInterpreted(BindReferences.bindReference(
          cond.transformDown { case e: RuntimeReplaceable => e.replacement }
            .transformUp { case e if e.foldable && !e.isInstanceOf[Literal] =>
              try Literal.create(e.eval(), e.dataType)
              catch { case scala.util.control.NonFatal(_) => e } },
          child.output))
        p.initialize(0)
        p.eval
      case other => throw new IllegalStateException(
        s"manifest filter analyzed to an unexpected plan:\n$other")
    }

  /** Empty manifest relation as a LocalRelation (an emptyRDD-backed frame
    * would plan a (zero-task) Spark job per action on it). */
  def emptyRelation(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq.empty[Row].asJava, GraftTable.ManifestSchema)
  }

  /** Driver-local read of the given manifest dirs/files, or None when
    * the UNCACHED portion exceeds the size gate or any file is
    * undecodable (caller falls back to the distributed read — fallback
    * is always correct, local is only a latency optimization). */
  def readLocal(conf: Configuration, paths: Seq[String]): Option[IndexedSeq[Row]] =
    readLocalRows(conf, paths).map(_.map(r => toScala(r).asInstanceOf[Row]))

  /** [[readLocal]] in Catalyst's internal form, as cached. */
  private def readLocalRows(conf: Configuration,
                            paths: Seq[String]): Option[IndexedSeq[InternalRow]] =
    readLocalInternal(conf, paths).map(_.flatMap(_._2))

  /** [[readLocal]] with per-dir attribution: (normalized dir path, its
    * rows) in input order — for callers that need to know which
    * manifest produced each row (eq-delete planning's legacy intro
    * derivation). The size gate applies to the aggregate MISS bytes
    * across all requested dirs: a set of individually-small uncached
    * dirs must not accumulate unbounded fresh rows on the driver in one
    * call, while CACHE-resident rows are already on the driver and cost
    * nothing to return — gating them would just demote a fully-warm
    * manifest set to a distributed re-read forever (worst case returned
    * from cache = the cache's own 256 MB byte bound). */
  def readLocalByDir(conf: Configuration, paths: Seq[String])
      : Option[IndexedSeq[(String, IndexedSeq[Row])]] =
    readLocalInternal(conf, paths).map(_.map { case (dir, rows) =>
      dir -> rows.map(r => toScala(r).asInstanceOf[Row]) })

  private def readLocalInternal(conf: Configuration, paths: Seq[String])
      : Option[IndexedSeq[(String, IndexedSeq[InternalRow])]] = {
    try {
      val parts = paths.map { p =>
        val key = GraftTable.normalize(p)
        cacheGet(key) match {
          case Some((rows, bytes)) => (key, Some(rows), bytes, Seq.empty[Path])
          case None =>
            val dir = new Path(key)
            val fs = dir.getFileSystem(conf)
            // a log-referenced manifest whose dir VANISHED (concurrent
            // cross-process expiry, corruption) must fail loudly, never
            // read as zero rows — an empty read here would silently
            // resurrect MOR-deleted rows (empty delete manifest) or
            // plan an empty table. Throwing falls through the NonFatal
            // catch to None WITHOUT caching; the distributed fallback
            // then fails with PATH_NOT_FOUND, exactly as the pure-Spark
            // path always did (ADVICE r16). Only an existing-but-empty
            // dir may yield zero rows.
            if (!fs.exists(dir))
              throw new java.io.FileNotFoundException(
                s"manifest dir does not exist: $key")
            val listed = GraftTable.listFiles(fs, dir)
            (key, None, listed.map(_.getLen).sum, listed.map(_.getPath))
        }
      }
      if (parts.iterator.filter(_._2.isEmpty).map(_._3).sum >
          LocalReadMaxBytes) return None
      Some(parts.toIndexedSeq.map {
        case (key, Some(rows), _, _) => key -> rows
        case (key, None, bytes, files) =>
          val rows = files.iterator
            .flatMap(f => readFile(conf, f)).toIndexedSeq
          cachePut(key, rows, bytes)
          key -> rows
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- parquet-mr Group → ManifestSchema row -----------------------------

  private def readFile(conf: Configuration, file: Path): Iterator[InternalRow] = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(), file).withConf(conf).build()
    val buf = IndexedSeq.newBuilder[InternalRow]
    try {
      var g = reader.read()
      while (g != null) {
        buf += toInternal(toRow(g)).asInstanceOf[InternalRow]
        g = reader.read()
      }
    } finally reader.close()
    buf.result().iterator
  }

  private def toRow(g: Group): Row = {
    val t = g.getType
    def idx(name: String): Int =
      if (t.containsField(name)) t.getFieldIndex(name) else -1
    def present(i: Int): Boolean = i >= 0 && g.getFieldRepetitionCount(i) > 0
    def str(name: String): String = {
      val i = idx(name)
      if (present(i)) g.getBinary(i, 0).toStringUsingUTF8 else null
    }
    def lng(name: String): java.lang.Long = {
      val i = idx(name)
      if (present(i)) java.lang.Long.valueOf(g.getLong(i, 0)) else null
    }
    // Spark's non-legacy map layout: optional group f (MAP) {
    //   repeated group key_value { required binary key; optional V value } }
    def mapOf[V](name: String, value: Group => V): Map[String, V] = {
      val i = idx(name)
      if (!present(i)) return null
      val m = g.getGroup(i, 0)
      val n = m.getFieldRepetitionCount(0)
      val b = Map.newBuilder[String, V]
      var j = 0
      while (j < n) {
        val kv = m.getGroup(0, j)
        val k = kv.getBinary(0, 0).toStringUsingUTF8
        b += k -> (if (kv.getFieldRepetitionCount(1) > 0) value(kv)
                   else null.asInstanceOf[V])
        j += 1
      }
      b.result()
    }
    Row(
      str("path"),
      lng("size_bytes"),
      lng("record_count"),
      mapOf[java.lang.Long]("null_counts",
        kv => java.lang.Long.valueOf(kv.getLong(1, 0))),
      mapOf[String]("min_values", kv => kv.getBinary(1, 0).toStringUsingUTF8),
      mapOf[String]("max_values", kv => kv.getBinary(1, 0).toStringUsingUTF8),
      mapOf[Array[Byte]]("blooms", kv => kv.getBinary(1, 0).getBytes),
      lng("added_snapshot_id"))
  }

  // ---- driver-local manifest write (Spark's own encoder) ------------------

  private final class RowWriterBuilder(file: HadoopOutputFile,
                                       support: WriteSupport[InternalRow])
    extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      support
  }

  /** A copy of `conf` carrying the keys Spark's [[ParquetWriteSupport]]
    * reads when it encodes manifest rows — made once per table handle
    * ([[GraftTable.manifestWriteConf]]), so [[writeLocal]] copies
    * nothing. */
  def writeConf(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(GraftTable.ManifestSchema, c)
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c
  }

  /** Write `rows` (ManifestSchema-shaped) as ONE parquet file under `dir`
    * on the driver, replacing any prior content (mode-overwrite parity
    * with the Spark write it substitutes). Bytes on disk match the Spark
    * write: the encoding runs through Spark's own [[ParquetWriteSupport]].
    * @param conf a [[writeConf]] conf
    * @return the written file's length — the cache price for
    *         [[cacheSeed]] */
  def writeLocal(fs: FileSystem, conf: Configuration, dir: Path,
                 rows: Seq[Row]): Long = {
    if (fs.exists(dir))
      GraftTable.listFiles(fs, dir).foreach(f => fs.delete(f.getPath, false))
    val file = new Path(dir, s"part-00000-${UUID.randomUUID()}.snappy.parquet")
    val writer = new RowWriterBuilder(
      HadoopOutputFile.fromPath(file, conf), new ParquetWriteSupport())
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
    finally writer.close()
    fs.getFileStatus(file).getLen
  }

  /** Spark schema of a parquet file (or one file of a dir), read from
    * the footer's embedded Spark schema JSON on the driver — the schema
    * Spark's own inference would return, without the inference job a
    * bare `spark.read.parquet(...).schema` submits. None for non-Spark
    * files (no embedded schema) — callers fall back to inference. */
  def parquetSchemaOf(conf: Configuration, fileOrDir: Path): Option[StructType] =
    try {
      val fs = fileOrDir.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(fileOrDir).isDirectory)
          GraftTable.listFiles(fs, fileOrDir).head.getPath
        else fileOrDir
      Option(footer(conf, file).getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The parquet footer of `file`, read on the driver with read options
    * built from `conf`. The one-argument `ParquetFileReader.open` builds
    * its options on a fresh `Configuration` instead, which parses
    * Hadoop's default resources on every call. */
  def footer(conf: Configuration, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getFooter finally reader.close()
  }

  /** The rows of a DataFrame whose OPTIMIZED plan is a LocalRelation —
    * i.e. already driver-resident, extractable without any Spark job.
    * None for genuinely distributed plans. */
  def localRowsOf(df: DataFrame): Option[IndexedSeq[Row]] =
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val toScala = CatalystTypeConverters.createToScalaConverter(
          StructType(lr.output.map(a =>
            StructField(a.name, a.dataType, a.nullable))))
        Some(lr.data.map(ir => toScala(ir).asInstanceOf[Row]).toIndexedSeq)
      case _ => None
    }
}
