package graft

/** Read-only view of the engine's package-private cache counters, for
  * the benchmark's per-layer metrics. */
object PerfProbe {
  /** Commits whose manifest came from the driver-resident footer
    * inventory instead of a Spark job. */
  def footerInventoryHits: Long = meta.GraftTable.footerInventoryHits.get()
  /** Manifest relations served from the driver instead of a Spark read. */
  def manifestLocalHits: Long = meta.ManifestIO.localReadHits.get()
}
