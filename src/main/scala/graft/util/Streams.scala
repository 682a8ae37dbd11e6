package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sources.Tables

/** The engine's one tick driver, and state-store partitioning for
  * STATEFUL streaming queries.
  *
  * TICKS. The reference runs a scheduled micro-batch loop: fetch only
  * what is new, upsert by key, resume after a crash
  * (`git_etl.ts:319-326,353-355`). Every tick stream here is built from
  * the same three pieces: [[land]] stages arrival slices as one file
  * each, [[ticks]] replays a directory one file per trigger, and
  * [[drain]] runs a tick body over every batch to the end of the backlog
  * and resumes from its checkpoint after a crash. [[drain]] is the one
  * place to tag, time or crash-enumerate a tick.
  *
  * STATE PARTITIONING (guide §2: make partitioning scale-adaptive —
  * derived from input size — rather than a constant tuned for either
  * local mode or the cluster).
  *
  * A stateful operator's shuffle-partition count is special in two ways:
  *
  *  - it is PINNED at the first micro-batch (written into the
  *    checkpoint's offset metadata) and cannot change for the life of
  *    the query — there is no later re-tuning;
  *  - AQE never coalesces it: `spark.sql.shuffle.partitions` is taken
  *    as-is for every stateful exchange, so the session default (= cpus
  *    under the driver contract) makes every stateful stream carry
  *    `cpus` state-store instances whose per-micro-batch cost — provider
  *    open, delta-file write + commit, snapshot/maintenance bookkeeping,
  *    one task each — is FIXED per partition regardless of how little
  *    state the partition holds.
  *
  * That fixed cost is exactly what the r15 driver measurement exposed:
  * the stateful entries are the suite's worst ANTI-scalers
  * (q_sink_incremental_agg 4.75 s at 8 cores vs 12.85 s at 32, ratio
  * 0.37; stream_stream_join 0.34) — more cores mean strictly more
  * per-tick state commits on the same tiny state.
  *
  * [[statePartitionsFor]] therefore sizes a stream's state partitioning
  * from the stream's INPUT volume — the one size signal available
  * before the first batch — at ~32 MB of input per state partition,
  * clamped to [1, 65536] (the same upper bound the bucket stores use).
  * The derivation is monotone in the data, never in the core count: a
  * 2 MB fixture stream gets 1 state partition at ANY cluster size (its
  * state would rattle around one task anyway), a 1 TB backlog gets
  * ~32k, independent of whether the session default was 32 or 2000.
  * Callers pass the volume the stream is being sized for (for the
  * engine's replay-shaped AvailableNow pipelines, the watched
  * directory's bytes ARE the stream's whole input).
  */
object Streams {

  /** The file-replay tick source: `src`'s parquet files, one per
    * trigger, in modification-time order. */
  def ticks(s: SparkSession, src: String, schema: StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)

  /** Drain `stream` to the end of its backlog (AvailableNow), running
    * `tick` on each micro-batch after one [[Tables.spread]]. A re-run on
    * the same `ckpt` resumes after the last committed batch, so `tick`
    * must be idempotent per (batch, batchId). Output mode is "update":
    * for a query without aggregation Spark treats it as append, and for
    * a streaming aggregation it emits only the keys a batch changed.
    *
    * Three streams stay off this driver: `StreamOps.runToParquet`'s
    * complete mode (it rewrites the whole result table every batch),
    * `stream_dsv2_commits` (it writes through the parquet format sink)
    * and `stream_processing_time` (its point is a ProcessingTime
    * trigger). */
  def drain(stream: DataFrame, ckpt: String)(tick: (DataFrame, Long) => Unit): Unit =
    stream.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, id: Long) => tick(Tables.spread(b), id))
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()

  /** Stage arrival slices for [[ticks]]: slice `i` becomes the single
    * file `base/src/t<i>.parquet`, its mtime pinned to arrival order
    * (the file source sorts its backlog by modification time). */
  def land(base: String, slices: Seq[DataFrame]): Unit =
    slices.zipWithIndex.foreach { case (slice, t) =>
      val tmp = s"$base/src_stage_$t"
      slice.coalesce(1).write.parquet(tmp)
      val part = Fs.listFiles(tmp, ".parquet").head
      Fs.mkdirs(s"$base/src")
      val dest = s"$base/src/t$t.parquet"
      Fs.move(part, dest)
      Fs.delete(tmp)
      Fs.setMtime(dest, 1700000000000L + t * 60000L)
    }

  /** Input-volume-derived state partition count: ceil(bytes / 32 MB)
    * clamped to [1, 65536]. */
  def statePartitionsFor(inputBytes: Long,
                         targetBytes: Long = 32L << 20): Int = {
    val want = math.max(1L, (inputBytes + targetBytes - 1) / targetBytes)
    math.min(65536L, want).toInt
  }

  /** Run `body` (a stream's start→awaitTermination) with
    * `spark.sql.shuffle.partitions` pinned to `n`, through
    * [[graft.Session.withConfs]]. The override must cover the FIRST
    * micro-batch (that is when the state partitioning is captured into
    * the checkpoint); covering the whole drain is simplest and also
    * keeps the tiny per-batch foreachBatch jobs from planning `cpus`
    * reduce tasks each. Results are partitioning-independent by
    * construction (the oracle gate hash-compares them). */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    graft.Session.withConfs(s, Map("spark.sql.shuffle.partitions" -> n.toString))(body)
}
