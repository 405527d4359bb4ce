package graft.cmd

import java.time.Clock

import org.apache.hadoop.fs.Path

import graft.meta.GraftTable

/** Delete files under the table's `data/` tree that no snapshot (of any
  * age) references and whose modification time is older than the
  * retention threshold — storage/metadata reconciliation after failed or
  * interrupted writes.
  *
  * Reference analogue:
  * `ALTER TABLE t EXECUTE remove_orphan_files(retention_threshold => 'Nd')`
  * (trino_iceberg_maintenance/__main__.py:141-148).
  *
  * The orphan set is `listing(data/) ∖ union(all manifests)` as a
  * left-anti join; the join, mtime filter, and fan-out deletion are
  * distributed. The listing itself has two modes:
  *   - default: one recursive driver listing, parallelized into a
  *     DataFrame — right for the table counts the reference
  *     contemplates;
  *   - `spark.graft.removeOrphans.distributedListing=true`:
  *     prefix-sharded — the driver lists only the first-level commit
  *     directories under `data/` (O(#commits) entries), and executors
  *     list each shard recursively in parallel. The 100 TB object-store
  *     shape, where a single-threaded recursive listing of millions of
  *     files is the wall.
  *
  * @return number of orphan files deleted
  */
object RemoveOrphanFiles {
  def run(table: GraftTable, retentionDays: Int, clock: Clock): Long =
    table.writeOp {
      val spark = table.spark
      import spark.implicits._
      val cutoffMs = clock.millis() - retentionDays.toLong * 86400000L
      val orphans = orphanSet(table, cutoffMs).as[String]

      // Ship the table's Hadoop conf to executors (credentials/endpoint
      // for non-default filesystems), instead of a from-scratch Configuration.
      val confB = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(table.hadoopConf))
      val deleted = spark.sparkContext.longAccumulator("deletedOrphans")
      orphans.foreachPartition { (it: Iterator[String]) =>
        val conf = confB.value.value
        it.foreach { p =>
          val path = new Path(p)
          if (path.getFileSystem(conf).delete(path, false)) deleted.add(1L)
        }
      }
      deleted.value
    }

  /** THE orphan derivation — one column `path`: files under the
    * table's `data/` tree older than `cutoffMs` (REAL filesystem
    * mtimes, matching the reference's retention semantics) that no
    * snapshot of any age references. One definition shared by [[run]]
    * (the delete fan-out consumes it) and [[plan]] (the x24 dry run),
    * so the two can never drift — the x23 shared-predicate contract
    * applied to orphan reconciliation. Listing + manifest metadata
    * only; never reads a data byte. */
  private[graft] def orphanSet(table: GraftTable, cutoffMs: Long)
      : org.apache.spark.sql.DataFrame = {
    val spark = table.spark
    val distributed = spark.conf
      .getOption("spark.graft.removeOrphans.distributedListing")
      .exists(_.toBoolean)
    import spark.implicits._
    val listing =
      if (distributed) shardedListing(table)
      else {
        val listed = GraftTable
          .listFiles(table.fileSystem, new Path(table.dir, "data"))
          .map(f => (GraftTable.normalize(f.getPath), f.getModificationTime))
        spark.createDataset(listed).toDF("path", "mtime")
      }
    orphanSetFrom(listing, referencedRel(table), cutoffMs)
  }

  /** Manifest paths of every snapshot — includes delete manifests:
    * position-delete files live under data/ and are referenced storage,
    * not orphans. */
  private def manifestPaths(table: GraftTable): Seq[String] =
    table.snapshots
      .flatMap(s => s.manifests ++ s.deleteManifests ++ s.eqDeleteManifests)
      .distinct

  /** The shared derivation applied to an already-captured listing and
    * referenced-path relation: age-filter + anti-join. [[run]] and
    * [[plan]] differ only in how the listing and the referenced set are
    * produced (plan materializes both under the lock; run stays lazy —
    * its whole action executes inside the lock). */
  private def orphanSetFrom(listing: org.apache.spark.sql.DataFrame,
                            referenced: org.apache.spark.sql.DataFrame,
                            cutoffMs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    listing
      .filter(col("mtime") < cutoffMs)
      .join(referenced.select("path"), Seq("path"), "left_anti")
      .select("path")
  }

  /** Lazy referenced-path relation (run()'s shape — executed under the
    * same lock that captured the manifest list). */
  private def referencedRel(table: GraftTable)
      : org.apache.spark.sql.DataFrame = {
    val paths = manifestPaths(table)
    if (paths.isEmpty) table.emptyManifest
    else table.spark.read.schema(GraftTable.ManifestSchema).parquet(paths: _*)
  }

  /** DRY RUN (x24 — the planning trio's third leg beside x22
    * compaction and x23 retention): what WOULD remove_orphan_files
    * reclaim under `retentionDays` at `clock`, without deleting
    * anything — one row: would-delete count, files on disk, and the
    * referenced-path count the live set is judged against. At 100 TB
    * the operator reads this before the irreversible sweep: a
    * surprising `would_delete` (a misconfigured clock, a writer still
    * landing files) is caught while it is still just a number. */
  def plan(table: GraftTable, retentionDays: Int,
           clock: Clock): org.apache.spark.sql.DataFrame =
    // under the table lock, and from ONE data/ listing (r17 ADVICE):
    // the previous spelling listed twice without the lock, so a
    // concurrent writer could make would_delete and files_on_disk
    // mutually inconsistent — and paid an eager count() job at
    // plan-CONSTRUCTION time. Both the listing and the REFERENCED PATH
    // SET are fully materialized here (r18 ADVICE: capturing only the
    // manifest file names deferred the manifest parquet read to the
    // caller's action, after the lock released — a concurrent
    // expire_snapshots deleting an old manifest made the dry run throw
    // FileNotFoundException). Driver-side metadata, O(referenced files)
    // strings; only the tiny anti-join count defers to the action.
    table.writeOp {
      import org.apache.spark.sql.functions.{col, count, lit}
      val spark = table.spark
      import spark.implicits._
      val cutoffMs = clock.millis() - retentionDays.toLong * 86400000L
      val listed = GraftTable
        .listFiles(table.fileSystem, new Path(table.dir, "data"))
        .map(f => (GraftTable.normalize(f.getPath), f.getModificationTime))
      val mPaths = manifestPaths(table)
      val referencedPaths: Seq[String] =
        if (mPaths.isEmpty) Seq.empty
        else spark.read.schema(GraftTable.ManifestSchema)
          .parquet(mPaths: _*).select("path").as[String]
          .collect().toSeq
      orphanSetFrom(spark.createDataset(listed).toDF("path", "mtime"),
          referencedPaths.toDF("path"), cutoffMs)
        .agg(count(lit(1)).as("would_delete"))
        .select(col("would_delete"),
          lit(listed.size.toLong).as("files_on_disk"),
          lit(mPaths.size.toLong).as("referenced_manifests"))
    }

  /** Prefix-sharded listing of `data/`: the driver sees only the
    * first-level entries (commit directories); each shard's recursive
    * listing runs on an executor. Stray files directly under `data/`
    * (not in any commit dir) are picked up driver-side — there are at
    * most a handful by construction. */
  private def shardedListing(table: GraftTable)
      : org.apache.spark.sql.DataFrame = {
    val spark = table.spark
    import spark.implicits._
    val root = new Path(table.dir, "data")
    val fs = table.fileSystem
    val empty = Seq.empty[(String, Long)].toDF("path", "mtime")
    if (!fs.exists(root)) return empty
    val entries = fs.listStatus(root).toSeq
      .filterNot(e => e.getPath.getName.startsWith("_") ||
        e.getPath.getName.startsWith("."))
    val (dirs, files) = entries.partition(_.isDirectory)
    val loose = files.map(f =>
      (GraftTable.normalize(f.getPath), f.getModificationTime))
    if (dirs.isEmpty) return loose.toDF("path", "mtime")
    // only the Hadoop conf crosses the closure — never the table handle
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(table.hadoopConf))
    val shards = dirs.map(_.getPath.toString)
    val sharded = spark.createDataset(shards)
      .repartition(math.min(shards.size,
        spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val conf = confB.value.value
        it.flatMap { d =>
          val p = new Path(d)
          GraftTable.listFiles(p.getFileSystem(conf), p)
            .map(f => (GraftTable.normalize(f.getPath),
              f.getModificationTime))
        }
      }.toDF("path", "mtime")
    sharded.unionByName(loose.toDF("path", "mtime"))
  }
}
