package perfbench

import scala.collection.mutable

/** read_search: the read path and the per-row kernels, with no commits.
  * One cycle is a round of the [[SelectiveRead]] query mix and one
  * [[DedupSearch]] batch; the two halves share the process and its
  * caches but no data. */
object ReadSearch {
  def run(h: Harness): Unit = {
    val source = SelectiveRead.source(h)
    val batches = mutable.Queue.empty[DedupSearch.Batch]
    def synthesize(b: Int) = DedupSearch.synthesize(h.spark,
      s"${h.workDir}/dedup/batch$b", b, h.seed)
    val tables = h.setup(3)(i => SelectiveRead.build(h, source, i))
    var next = 0
    def storedBytes = h.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val storedAtStart = storedBytes

    // the warm-up: on one thread every kernel runs on a small batch of its
    // own; on the other the tables are described, the first batch is
    // written, and two rounds of queries run (a query class still runs
    // slower on its second run than later)
    val warmup = () => Harness.parallel(
      () => DedupSearch.warm(h.spark, DedupSearch.synthesize(h.spark,
        s"${h.workDir}/dedup/warm", -1, h.seed, DedupSearch.WarmDocs).dir),
      () => {
        SelectiveRead.describe(h, tables)
        batches += synthesize(next)
        next += 1
        DedupSearch.describe(h, batches.head)
        (SelectiveRead.round(h, source, tables) ++
          SelectiveRead.round(h, source, tables)).foreach(_())
      })
    val steps = mutable.Queue.empty[() => Unit]
    val step: () => Unit = () => {
      if (steps.isEmpty) {
        if (batches.isEmpty) { batches += synthesize(next); next += 1 }
        steps ++= SelectiveRead.round(h, source, tables)
        steps ++= DedupSearch.batchSteps(h, batches.dequeue())
      }
      steps.dequeue()()
    }
    // a measured phase runs whole cycles: a round and a batch
    h.drive(warmup, cycle = SelectiveRead.Round.size + 3 +
      DedupSearch.TopKRepeats)(step)
    // what the kernels' relation cache holds at the end (the cached
    // source the read checks use is excluded)
    h.facts ++= Map("batches" -> next,
      "relcache_bytes" -> (storedBytes - storedAtStart))
  }
}
