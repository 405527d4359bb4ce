package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ext.{DedupQueries, SimilarityQueries}

/** The kernel half of read_search: the per-row kernels, with the table
  * format idle. The workload walks a sequence of distinct document and
  * embedding batches.
  * For each batch it runs near-duplicate dedup (d03 MinHash+LSH with d01
  * exact dedup), then SQ8 and PQ top-k (s06, s11): the first top-k call
  * of a batch builds the cached index, later calls reuse it. Every batch
  * is a new directory, so the engine's relation cache (keyed by session
  * and directory) misses on each one. */
object DedupSearch {
  val DocsPerBatch = 160
  /** Documents in the warm-up batch, which only has to run every kernel. */
  val WarmDocs = 40
  val WordsPerDoc = 200
  val Vocabulary = 30000
  /** Share of documents with 1-2 near-duplicate copies (one extra word). */
  val NearDupRate = 0.04
  /** Share of documents with one exact copy. */
  val ExactDupRate = 0.02
  val VectorsPerBatch = 500
  val Dim = 64
  /** Cached-index top-k queries per batch, alternating s06 and s11. */
  val TopKRepeats = 2
  val Langs: Seq[String] = Seq("en", "de", "fr", "es")

  /** One batch's inputs and what the checks expect of them: every
    * planted pair, and the exact copies per language. */
  final case class Batch(dir: String, docs: Int, pairs: Set[(Long, Long)],
                         exactDups: Map[String, Long])

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Writes batch `b`'s documents and embeddings under `dir`, with the
    * planted near-duplicate clusters as the expected pairs. */
  def synthesize(spark: SparkSession, dir: String, b: Int, seed: Long,
                 docCount: Int = DocsPerBatch): Batch = {
    import scala.jdk.CollectionConverters._
    val r = new scala.util.Random(seed * 1000003L + b)
    val docs = mutable.ArrayBuffer.empty[Row]
    val pairs = mutable.Set.empty[(Long, Long)]
    val exact = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var id = b.toLong * 1000000L
    def add(text: String, lang: String): Long = {
      id += 1
      docs += Row(id, text, lang, s"src${r.nextInt(8)}", text.length.toLong)
      id
    }
    (0 until docCount).foreach { d =>
      val text = Seq.fill(WordsPerDoc)(
        "w" + Integer.toString(r.nextInt(Vocabulary), 36)).mkString(" ")
      val lang = Langs(r.nextInt(Langs.size))
      val cluster = mutable.ArrayBuffer(add(text, lang))
      if (r.nextDouble() < NearDupRate)
        (0 to r.nextInt(2)).foreach(c =>
          cluster += add(s"$text x${b}n${d}c$c", lang))
      if (r.nextDouble() < ExactDupRate) {
        cluster += add(text, lang)
        exact(lang) += 1
      }
      for (a <- cluster; z <- cluster if a < z) pairs += (a -> z)
    }
    spark.createDataFrame(docs.asJava, DocSchema)
      .write.parquet(s"$dir/documents.parquet")
    val vecs = (0 until VectorsPerBatch).map(v => Row(v.toLong,
      Array.fill(Dim)(r.nextGaussian().toFloat).toSeq, r.nextInt(10)))
    spark.createDataFrame(vecs.asJava, VecSchema)
      .write.parquet(s"$dir/embeddings.parquet")
    Batch(dir, docs.size, pairs.toSet, exact.toMap)
  }

  def describe(h: Harness, b: Batch): Unit =
    h.facts ++= Map("docs_per_batch" -> b.docs,
      "planted_pairs_per_batch" -> b.pairs.size,
      "near_dup_rate" -> NearDupRate, "exact_dup_rate" -> ExactDupRate,
      "words_per_doc" -> WordsPerDoc, "vectors_per_batch" -> VectorsPerBatch,
      "dim" -> Dim, "topk_repeats" -> TopKRepeats)

  /** Runs every kernel on a batch, and each top-k a second time on its
    * cached index, untimed and unchecked: the warm-up. */
  def warm(spark: SparkSession, dir: String): Unit = {
    DedupQueries.d03MinHashLsh(spark, dir).collect()
    DedupQueries.d01ExactDedup(spark, dir).collect()
    (0 until 2).foreach { _ =>
      SimilarityQueries.s06QuantizedTopK(spark, dir).collect()
      SimilarityQueries.s11PqTopK(spark, dir).collect()
    }
  }

  /** One batch as steps: dedup, the two index-building top-k calls, then
    * the repeated top-k queries on the cached indexes. */
  def batchSteps(h: Harness, batch: Batch): Seq[() => Unit] = {
    val spark = h.spark
    val dir = batch.dir
    val first = mutable.Map.empty[String, Seq[Row]]
    val tag = Map("batch" -> dir)
    val dedup = () => h.op("ext.dedup", tag + ("rows_in" -> batch.docs)) {
      val found = DedupQueries.d03MinHashLsh(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      (found, DedupQueries.d01ExactDedup(spark, dir).collect())
    }.foreach { case (found, exact) =>
      h.annotate(Map("pairs_out" -> found.size,
        "pairs_planted" -> batch.pairs.size,
        "pairs_found" -> (found & batch.pairs).size))
      h.check(s"$dir: d03 finds every planted pair")(
        batch.pairs.subsetOf(found))
      h.check(s"$dir: d03 finds only planted pairs")(
        found.subsetOf(batch.pairs))
      h.check(s"$dir: d01 counts the planted exact copies")(
        exact.map(r => r.getString(0) -> r.getLong(3)).toMap
          .filter(_._2 > 0) == batch.exactDups)
    }
    val kernels = Seq(
      "s06" -> (() => SimilarityQueries.s06QuantizedTopK(spark, dir)),
      "s11" -> (() => SimilarityQueries.s11PqTopK(spark, dir)))
    val builds = kernels.map { case (k, q) => () =>
      h.op(s"ext.index_build.$k", tag)(q().collect().toSeq)
        .foreach(first(k) = _)
    }
    val queries = (0 until TopKRepeats).map { i =>
      val (k, q) = kernels(i % kernels.size)
      () => h.op(s"ext.topk.$k", tag)(q().collect().toSeq).foreach(rows =>
        h.check(s"$dir: repeated $k top-k equals the first answer")(
          first.get(k).contains(rows)))
    }
    (dedup +: builds) ++ queries
  }
}
