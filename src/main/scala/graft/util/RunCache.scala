package graft.util

import org.apache.spark.sql.SparkSession

/** Block-manager hygiene between the entries of a long single-JVM run
  * (Bench, Verify: hundreds of queries share one SparkContext).
  *
  * Why it exists: every `localCheckpoint()` PERSISTS an RDD, and those
  * blocks are only reclaimed when the RDD object is garbage-collected and
  * the ContextCleaner notices — with a 100 GiB heap, full GCs are rare,
  * so a suite run accumulates every query's checkpoint blocks. Measured
  * at generated sf1: the 6th query of a suite ran 4.7× its standalone
  * time (147 s vs 31 s) purely from the storage pressure + GC churn the
  * first five left behind. The sweep makes query N's cost independent of
  * N again (an executor in a real cluster gets this isolation from the
  * scheduler; a single-JVM bench has to do it by hand).
  *
  * Every persistent RDD is dropped: no artifact shared across queries
  * lives in the block manager (run-scoped shared builds are written to
  * disk by [[SharedBuilds.once]]). Shuffle files are not the sweep's job:
  * [[graft.Session.build]] sets
  * `spark.sql.classic.shuffleDependency.fileCleanup.enabled`, so Spark
  * deletes each SQL execution's shuffle files when the execution ends.
  */
object RunCache {

  /** Sweeps since JVM start — drives the every-Kth-sweep GC floor. */
  private var sweeps = 0L

  /** Run the ContextCleaner's trigger (a full GC) at most every Kth
    * sweep when nothing was unpersisted: broadcasts, and the shuffle
    * files of RDD-API actions (which run outside any SQL execution, so
    * the per-execution cleanup misses them), are reclaimed only after
    * their weak references fire, and a 100 GiB-heap driver may not GC for
    * dozens of queries. But an every-sweep `System.gc()` measured ~11%
    * overhead on cheap queries (r11 judge A/B: 17.0 s vs 15.1 s over a
    * 20-query subset), so the unconditional form taxed the 90% of entries
    * that create no persistent blocks at all. Now: GC when the sweep
    * actually dropped blocks (checkpoint-heavy entries, where cleanup
    * genuinely matters) or on the every-8th floor. */
  private val GcEverySweeps = 8

  /** Unpersist every persistent RDD. Safe between queries: per-query
    * DataFrames are never reused across queries. BLOCKING on purpose: the
    * sweep runs untimed between queries, block removal is local and
    * fast, and fire-and-forget unpersist futures race the JVM's
    * shutdown pools — the rejected-execution stack traces they print
    * after the final sweep would land in the driver's stdout tail-grab
    * right behind the result JSON. */
  def sweep(s: SparkSession): Unit = {
    val live = s.sparkContext.getPersistentRDDs
    live.values.foreach(_.unpersist(blocking = true))
    sweeps += 1
    if (live.nonEmpty || sweeps % GcEverySweeps == 0) System.gc()
  }
}
