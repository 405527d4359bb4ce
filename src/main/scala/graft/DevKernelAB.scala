package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: at-scale A/B of the fused codegen kernels vs the
  * higher-order-function folds they replaced (r18 DotKernels, r19
  * SigKernels). The sf0.1 bench cannot show per-row wins — the roster
  * sits on the stage-scheduling floor (r18 scaling block: 8 cores ≈ 32
  * cores) — so this probe synthesizes an N× corpus, MATERIALIZES the
  * kernel INPUT relation to parquet once (so the arms time the
  * projection, not the shingling/synthesis), and times fold vs kernel
  * with the noop sink (guide §1.4), min-of-k, arms interleaved.
  *
  * Usage: DevKernelAB [baseSfDir] [mult] [reps]
  * Prints one JSON line per arm pair. Not a driver main; results are
  * quoted in OPTIMIZATION_r19.md.
  */
object DevKernelAB {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(20)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.GraftLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)

    val dir = java.nio.file.Files.createTempDirectory("graft_kab").toString
    val copies = explode(sequence(lit(0), lit(mult - 1))).as("c")

    // ---- materialize the kernel INPUT relations once -------------------
    // (doc_id, hs): the hashed-shingle relation the minhash sig reads —
    // synthesized copies get a one-token suffix like DevScale, so the
    // shingle sets differ per copy
    val docsIn = s"$dir/hs.parquet"
    spark.read.parquet(s"$base/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), col("text"), copies)
      .select((col("doc_id") + col("c").cast("long") * 10000000L).as("doc_id"),
        when(col("c") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" copyv"), col("c"))).as("text"))
      .select(col("doc_id"),
        graft.ext.DedupQueries.hashedShingles(col("text")).as("hs"))
      .repartition(32)
      .write.mode("overwrite").parquet(docsIn)
    // (vec_id, embedding): the quantize/dot input
    val vecsIn = s"$dir/emb.parquet"
    spark.read.parquet(s"$base/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), copies)
      .select((col("vec_id") + col("c").cast("long") * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("c"), size(col("embedding"))),
            x + lit(0.01f) * col("c").cast("float")).otherwise(x))
          .as("embedding"))
      .repartition(32)
      .write.mode("overwrite").parquet(vecsIn)
    val nDocs = spark.read.parquet(docsIn).count()
    val nVecs = spark.read.parquet(vecsIn).count()
    println(s"""{"corpus":"x$mult","docs":$nDocs,"vecs":$nVecs,"dir":"$dir"}""")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def ab(tag: String, fold: => DataFrame, kernel: => DataFrame): Unit = {
      noop(fold); noop(kernel) // warm codegen both ways
      val fs = Array.fill(reps)(0.0); val ks = Array.fill(reps)(0.0)
      (0 until reps).foreach { r => // interleave arms against drift
        fs(r) = time(noop(fold)); ks(r) = time(noop(kernel))
      }
      def f3(d: Double) = math.round(d * 1000) / 1000.0
      println(s"""{"ab":"$tag","fold_sec":${f3(fs.min)},""" +
        s""""kernel_sec":${f3(ks.min)},""" +
        s""""speedup":${f3(fs.min / ks.min)},""" +
        s""""fold_all":[${fs.map(f3).mkString(",")}],""" +
        s""""kernel_all":[${ks.map(f3).mkString(",")}]}""")
    }

    import graft.ext.DedupQueries.{P, hashA, hashB, NumHashes => numHashes}

    val hs = spark.read.parquet(docsIn)
    ab("minhash_sig",
      fold = hs.select((col("doc_id") +: (0 until numHashes).map { j =>
        array_min(transform(col("hs"),
          h => (h * hashA(j) + hashB(j)) % P)).as(s"m$j")
      }): _*),
      kernel = hs
        .select(col("doc_id"), call_function("graft_minhash", col("hs"),
          array(hashA.map(lit): _*), array(hashB.map(lit): _*),
          lit(P)).as("sigv"))
        .select((col("doc_id") +: (0 until numHashes).map(j =>
          col("sigv").getItem(j).as(s"m$j"))): _*))

    val emb = spark.read.parquet(vecsIn)
    // the EXACT pre-r19 quantize shape: maxabs as its own column
    // (computed once per row), then the floor/scale transform reading it
    ab("sq8_quantize",
      fold = emb.withColumn("maxabs", array_max(transform(col("embedding"),
          x => abs(x.cast("double")))))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => when(col("maxabs") === 0.0, lit(0L))
              .otherwise(floor(x.cast("double") * 127.0 / col("maxabs"))))
            .as("q")),
      kernel = emb.select(col("vec_id"),
        call_function("graft_sq8", col("embedding")).as("q")))

    // r18 kernels, same harness: the integer dot on SQ8 codes and the
    // float dot (self-pairs keep the probe join-free: the arm times the
    // per-row kernel, not a shuffle)
    val q = emb.select(col("vec_id"),
      call_function("graft_sq8", col("embedding")).as("q"))
    ab("ldot",
      fold = q.select(col("vec_id"),
        aggregate(zip_with(col("q"), col("q"), (x, y) => x * y),
          lit(0L), (a, x) => a + x).as("d")),
      kernel = q.select(col("vec_id"),
        call_function("graft_ldot", col("q"), col("q")).as("d")))
    ab("fdot",
      fold = emb.select(col("vec_id"),
        aggregate(zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (a, x) => a + x).as("d")),
      kernel = emb.select(col("vec_id"),
        call_function("graft_fdot", col("embedding"), col("embedding"))
          .as("d")))
    spark.stop()
  }
}
