package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** DataSource V2 commit source: pushdown reaches the source (pages before
  * the bound are never planned), pruning drops columns, and the data
  * contract matches the generator formulas. */
class CommitSourceSpec extends SparkSpec {

  private def src(rows: Int) =
    spark.read.format("graft.sources.CommitSource").option("rows", rows.toString).load()

  test("row contract and full count") {
    val first = src(250).orderBy("ts").limit(1).collect()(0)
    assert(first.getString(0) === "c00000000")
    assert(first.getTimestamp(1).toInstant.toString === "2024-01-01T00:00:00Z")
    assert(first.getString(2) === "u0@x")
    assert(first.getString(3) === "m0")
    assert(src(250).count() === 250)
  }

  test("ts >= bound is pushed: scan plans only the matching tail") {
    // row i has ts = base + i*137s; bound at i=1000 exactly
    val bound = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .plusSeconds(1000L * 137).toString.replace("T", " ").replace("Z", "")
    val df = src(5000).where(col("ts") >= lit(bound).cast(TimestampType))
    assert(df.count() === 4000)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("since="), s"pushed bound missing in:\n$scan")
    // partitions planned: pages 10..49 only (40 of 50)
    val parts = df.rdd.getNumPartitions
    assert(parts === 40, s"expected 40 planned pages, got $parts")
  }

  test("column pruning reaches the source") {
    val df = src(100).select(col("message"))
    val scan = df.queryExecution.executedPlan.toString
    assert(!scan.contains("sha#") || !scan.contains("Output [4]"),
      s"expected pruned scan in:\n$scan")
    assert(df.distinct().count() === 7)
  }

  test("aggregate pushdown: closed-form group-by matches a row-scan aggregate") {
    // same logical query, one via the pushed path, one forced through rows
    val pushed = src(1000)
      .groupBy(col("message")).agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min(col("ts")).as("mn"),
        org.apache.spark.sql.functions.max(col("ts")).as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getTimestamp(2), r.getTimestamp(3))).toSet
    val rows = src(1000).select(col("message"), col("ts")).localCheckpoint()
      .groupBy(col("message")).agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min(col("ts")).as("mn"),
        org.apache.spark.sql.functions.max(col("ts")).as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getTimestamp(2), r.getTimestamp(3))).toSet
    assert(pushed === rows)
  }

  test("runtime filtering (DPP): the dimension's join keys prune pages at execution") {
    // dimension with a selective predicate over a real (tiny) table —
    // region-1 nations, sha keys spread across 5 distinct pages
    val dim = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .where(col("n_regionkey") === 1)
      .selectExpr(
        "concat('c', lpad(CAST(n_nationkey * 397 AS STRING), 8, '0')) AS sha",
        "n_name")
    val joined = src(10000).join(dim, "sha")
      .select(col("sha"), col("ts"), col("message"), col("n_name"))
    val rows = joined.collect()
    // the join answer itself: exactly the 5 region-1 nations matched
    assert(rows.length === 5)
    assert(rows.map(_.getString(0)).toSet ===
      dim.select(col("sha")).collect().map(_.getString(0)).toSet)
    // the runtime filter re-planned the scan: 100 pages -> at most 5
    // (one per candidate sha), never the full page list — read from the
    // partitions the executed commit-source scan ran
    val executed = joined.queryExecution.executedPlan
    val planned = new AdaptiveSparkPlanHelper {}.collect(executed) {
      case b: BatchScanExec => b.inputRDD.getNumPartitions
    }
    assert(planned.size === 1, s"expected one commit-source scan:\n$executed")
    assert(planned.head >= 1 && planned.head <= 5,
      s"planned ${planned.head} pages; runtime pruning did not fire")
    // and the physical plan carries the dynamic-pruning runtime filter
    val plan = executed.toString
    assert(plan.contains("RuntimeFilters") || plan.toLowerCase.contains("dynamicpruning"),
      "no runtime filter in the executed plan")
  }

  test("reported statistics are pushdown-aware: Catalyst sees the filtered cardinality") {
    // unfiltered: the full table's row count reaches the optimizer
    val full = src(5000).queryExecution.optimizedPlan.stats
    assert(full.rowCount.contains(BigInt(5000)), s"full stats: $full")
    // since bound pushed: stats reflect the SOURCE-filtered tail (rows
    // 1262.. of 5000 — the same arithmetic the page planner uses)
    val bound = "2024-01-03 00:00:00"
    val filtered = src(5000).where(col("ts") >= lit(bound).cast(TimestampType))
      .queryExecution.optimizedPlan.stats
    assert(filtered.rowCount.exists(_ < 4000), s"filtered stats: $filtered")
    assert(filtered.rowCount.exists(_ > 3000), s"filtered stats: $filtered")
    // a narrowed commit scan is broadcast-eligible: the dimension side of
    // a join against a big fact plans as a broadcast hash join with the
    // commit scan inside the exchange
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
    val j = src(50).join(ev, col("message") === col("event_type"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected a broadcast join")
  }

  test("micro-batch offset arithmetic: since bound, admission cap, page-granular ticks") {
    import graft.sources.{CommitMicroBatchStream, CommitOffset, CommitSource}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val sinceIdx97 = CommitSource.tsMicrosOf(97) // bound exactly at row 97
    val st = new CommitMicroBatchStream(1000, sinceIdx97, CommitSource.schema, 250)
    st.prepareForTriggerAvailableNow()
    // the since bound IS the initial offset: rows before it never read
    assert(st.initialOffset() === CommitOffset(97))
    // admission control: each tick advances by at most batchRows, capped
    // at the pinned target
    assert(st.latestOffset(CommitOffset(97), ReadLimit.maxRows(250)) === CommitOffset(347))
    assert(st.latestOffset(CommitOffset(847), ReadLimit.maxRows(250)) === CommitOffset(1000))
    // a tick splits into page-granular partitions covering exactly [s, e)
    val parts = st.planInputPartitions(CommitOffset(97), CommitOffset(347))
    val ranges = parts.map { case graft.sources.CommitPage(a, b) => (a, b) }.sortBy(_._1)
    assert(ranges.head._1 === 97L && ranges.last._2 === 347L)
    assert(ranges.sliding(2).forall { case Array(x, y) => x._2 == y._1; case _ => true })
    assert(ranges.forall { case (a, b) => b - a <= CommitSource.PageSize })
    // offsets round-trip through the checkpoint's JSON form
    assert(st.deserializeOffset(CommitOffset(347).json()) === CommitOffset(347))
  }

  test("micro-batch stream: bounded ticks drain exactly once; a re-run adds nothing") {
    val base = graft.sinks.Sinks.scratch("spec_mbstream")
    val (dest, ckpt) = (s"$base/store", s"$base/ckpt")
    def drain(): Long = {
      val q = spark.readStream.format("graft.sources.CommitSource")
        .option("rows", "350").option("batchRows", "100").load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    // first run: 350 rows admitted 100 at a time -> 4 ticks, all rows once
    val firstRun = drain()
    assert(firstRun === 350L, s"first drain read $firstRun rows")
    val stored = spark.read.parquet(dest)
    assert(stored.count() === 350L)
    assert(stored.select(col("sha")).distinct().count() === 350L)
    // second run from the same checkpoint: the offset log says done —
    // zero new rows, zero duplicates (exactly-once resume)
    val secondRun = drain()
    assert(secondRun === 0L, s"re-run read $secondRun rows")
    assert(spark.read.parquet(dest).count() === 350L)
  }

  test("top-N pushdown: asc/desc slices, limit past the end, since composition") {
    import org.apache.spark.sql.functions.{asc, desc}
    // desc top-3 = the 3 newest rows, served newest-first by the source
    val d = src(100).orderBy(desc("ts")).limit(3).select(col("sha")).collect()
    assert(d.map(_.getString(0)).toSeq === Seq("c00000099", "c00000098", "c00000097"))
    // asc top-3 = the 3 oldest
    val a = src(100).orderBy(asc("ts")).limit(3).select(col("sha")).collect()
    assert(a.map(_.getString(0)).toSeq === Seq("c00000000", "c00000001", "c00000002"))
    // limit larger than the table: everything, no crash
    assert(src(10).orderBy(desc("ts")).limit(50).count() === 10)
    // composed with the pushed since bound: only the filtered tail slices
    val bound = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .plusSeconds(97L * 137).toString.replace("T", " ").replace("Z", "")
    val f = src(100).where(col("ts") >= lit(bound).cast(TimestampType))
      .orderBy(asc("ts")).limit(2).select(col("sha")).collect()
    assert(f.map(_.getString(0)).toSeq === Seq("c00000097", "c00000098"))
  }

  test("DSv2 write: manifest-gated visibility, append accumulates, overwrite truncates") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dest = graft.sinks.Sinks.scratch("spec_kvsink")
    def rows(r: Range, tag: String) =
      r.map(i => (i.toLong, tag, i.toLong * 10)).toDF("k", "v", "cents")
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      df.repartition(3).write.format("graft.sources.KvStoreSink")
        .option("path", dest).mode(mode).save()
    def readBack = spark.read.schema(graft.sources.KvStoreSink.schema)
      .json(graft.sources.KvStoreSink.committedFiles(dest): _*)
    write(rows(1 to 50, "a"), "append")
    assert(readBack.count() === 50)
    write(rows(51 to 70, "b"), "append") // second batch ACCUMULATES
    assert(readBack.count() === 70)
    // a live-dir file NOT named by the manifest (a crashed publish, a
    // losing speculative attempt) is invisible to readers
    Files.writeString(Paths.get(dest, "part-9-999.jsonl"),
      "{\"k\":999,\"v\":\"x\",\"cents\":1}\n")
    assert(readBack.count() === 70)
    assert(!readBack.where($"k" === 999L).head(1).nonEmpty)
    // overwrite mode routes through SupportsTruncate: atomic replace
    write(rows(1 to 5, "c"), "overwrite")
    assert(readBack.count() === 5)
    assert(readBack.select($"v").distinct().as[String].collect().toSeq === Seq("c"))
    // staging is always drained after a successful commit
    assert(!Files.exists(Paths.get(dest, ".staging")) ||
      { val l = Files.list(Paths.get(dest, ".staging"))
        try !l.iterator().hasNext finally l.close() })
  }

  test("DSv2 write: NULL fields serialize as JSON null, never 0") {
    import spark.implicits._
    val dest = graft.sinks.Sinks.scratch("spec_kvsink_nulls")
    Seq[(Option[Long], Option[String], Option[Long])](
      (Some(1L), Some("a"), Some(100L)),
      (Some(2L), None, None),
      (None, Some("c"), Some(5L)))
      .toDF("k", "v", "cents")
      .write.format("graft.sources.KvStoreSink").option("path", dest)
      .mode("append").save()
    val back = spark.read.schema(graft.sources.KvStoreSink.schema)
      .json(graft.sources.KvStoreSink.committedFiles(dest): _*)
    assert(back.count() === 3)
    // a NULL cents row must vanish from the sum (0 would corrupt it to 105+0)
    assert(back.agg(org.apache.spark.sql.functions.sum($"cents"))
      .head.getLong(0) === 105L)
    assert(back.where($"cents".isNull && $"v".isNull).count() === 1)
    assert(back.where($"k".isNull).count() === 1)
    // staged names are query-scoped: a second append (fresh queryId) can
    // never collide with run 1's committed files even if taskIds repeat
    val first = graft.sources.KvStoreSink.committedFiles(dest).toSet
    Seq((Some(9L), Some("z"), Some(1L))).toDF("k", "v", "cents")
      .write.format("graft.sources.KvStoreSink").option("path", dest)
      .mode("append").save()
    val second = graft.sources.KvStoreSink.committedFiles(dest).toSet
    assert(first.subsetOf(second) && second.size === first.size + 1,
      "append must add a new uniquely-named file, clobbering nothing")
  }
}
