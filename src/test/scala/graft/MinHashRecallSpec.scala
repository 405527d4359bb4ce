package graft

import scala.util.Random

import graft.ext.DedupQueries

/** d03's MinHash LSH must find every near-duplicate pair the benchmark
  * plants: a document and its copy with one extra word (Jaccard ≥ 0.99
  * at 200 words). With correlated hash multipliers the copy's extra
  * shingle could take the minimum in all 16 hashes at once, so the pair
  * shared no band — about one pair in a thousand was lost. With
  * independent hashes a pair is lost with probability about 1e-7. */
class MinHashRecallSpec extends SparkSpec {
  import spark.implicits._

  test("d03 finds every planted one-word-apart pair (seeded, 3,000 pairs)") {
    val rnd = new Random(20261019L)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(30000)}").mkString(" ")
    // at this seed the correlated multipliers lost pair 2,505
    val pairs = 3000
    // doc 2i and its copy 2i+1, which appends one word
    val docs = (0 until pairs).flatMap { i =>
      val text = words(200)
      Seq((2L * i, text), (2L * i + 1, text + " " + words(1)))
    }
    val dir = tmpDir("minhash")
    docs.toDF("doc_id", "text").repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    val found = DedupQueries.d03MinHashLsh(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val missed = (0 until pairs).map(i => (2L * i, 2L * i + 1))
      .filterNot(found)
    assert(missed.isEmpty, s"${missed.size} planted pairs missed: ${missed.take(5)}")
  }
}
