package graft

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.sinks.Sinks

/** Checkpoint recovery: a stopped streaming query resumed with the same
  * checkpoint processes ONLY new files — each input row lands in the sink
  * exactly once. This is the property that makes the reference's
  * crash-and-rerun cron loop (`git_etl.ts:353-355`) safe in this engine
  * even without the keyed upsert's idempotence backstop. */
class StreamResumeSpec extends SparkSpec {

  test("file-sink streaming resumes from checkpoint exactly-once") {
    import spark.implicits._
    val base = Sinks.scratch("spec_resume")
    val src = s"$base/src"
    val dest = s"$base/dest"
    val ckpt = s"$base/ckpt"

    def appendBatch(r: Range): Unit =
      r.toDF("v").coalesce(1).write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("v", IntegerType))))
        .parquet(src)
        .writeStream.format("parquet")
        .option("path", dest).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    appendBatch(1 to 50)
    drain()
    assert(spark.read.parquet(dest).count() === 50)

    appendBatch(51 to 80)
    drain()
    val got = spark.read.parquet(dest).as[Int].collect().sorted
    assert(got === (1 to 80).toArray) // old file NOT reprocessed, new file once
  }

  // The operational metric behind stream_dedup_bounded's bounded-state
  // claim, read the way a 100 TB operator would alert on it:
  // StreamingQueryProgress.stateOperators. Six ascending-time ticks under a
  // 1-hour watermark over a 30-day key space — the state store must (a)
  // never hold anywhere near the full key space and (b) actually evict
  // (numRowsRemoved > 0) as the watermark passes keys. A plain
  // dropDuplicates would end at numRowsTotal == all keys ever seen.
  test("dropDuplicatesWithinWatermark: state bounded + eviction visible in stateOperators") {
    import org.apache.spark.sql.functions.col
    val base = Sinks.scratch("spec_state_obs")
    val src = s"$base/src"
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("ts"))
    val nKeys = ev.select(col("event_id")).distinct().count() // 1000
    ev.union(ev) // duplicate delivery of every key
      .repartitionByRange(6, col("ts")).write.parquet(src)
    val q = graft.util.Streams.ticks(spark, src, ev.schema)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("noop")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val stateOps = q.recentProgress.toSeq.flatMap(_.stateOperators)
    assert(stateOps.nonEmpty, "expected stateOperators progress entries")
    val maxTotal = stateOps.map(_.numRowsTotal).max
    assert(maxTotal > 0 && maxTotal < nKeys / 2,
      s"state should stay bounded well under the $nKeys-key space, saw max=$maxTotal")
    assert(stateOps.map(_.numRowsRemoved).sum > 0,
      "watermark passage should evict state rows (numRowsRemoved)")
  }
}
