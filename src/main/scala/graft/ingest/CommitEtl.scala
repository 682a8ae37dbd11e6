package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Reference-parity incremental commit ETL, re-expressed Spark-first.
  *
  * The reference (`/root/reference/git_etl.ts`) syncs a GitHub repo's commit
  * history into a KV store: nested-record flatten + null-coalescing
  * projection (`git_etl.ts:82-118`), null-skipping max watermark
  * (`git_etl.ts:141-153`), +1s exclusive incremental bound
  * (`git_etl.ts:319-324`), and a keyed idempotent upsert sink
  * (`git_etl.ts:127-132`).
  *
  * Everything here is a declarative `DataFrame` transform so Catalyst keeps
  * pushdown/pruning/codegen; nothing collects to the driver. The
  * watermark ([[watermark]]) is `max` over the stored table: on a parquet
  * store that is a full scan of the store every tick, the reference's
  * O(N)-per-tick rescan. Only the DSv2 commit source's
  * [[graft.sources.CommitAggScan]] pushes the aggregate into the source
  * and answers it without reading rows.
  */
object CommitEtl {

  /** Nested GitHub-API-shaped input schema (FIXTURES.md A1; `git_etl.ts:10-11`). */
  val rawCommitSchema: StructType = StructType(Seq(
    StructField("sha", StringType, nullable = false),
    StructField("commit", StructType(Seq(
      StructField("message", StringType),
      StructField("author", StructType(Seq(
        StructField("email", StringType),
        StructField("date", StringType))), nullable = true),
      StructField("committer", StructType(Seq(
        StructField("email", StringType),
        StructField("date", StringType))), nullable = true))))))

  /** Deterministically synthesize nested commits from the `events` table so
    * the O5 coalescing matrix (FIXTURES.md A1: all six nullability cases) is
    * exercised on driver data. event_id≈sha, ts≈author date, user_id≈author.
    */
  def synthesizeRawCommits(events: DataFrame): DataFrame = {
    val authorAbsent    = col("event_id") % 7 === 0
    val authorDateNull  = col("event_id") % 3 === 0
    val commAbsent      = col("event_id") % 11 === 0
    val commDateNull    = col("event_id") % 5 === 0
    events.select(
      col("event_id").cast(StringType).as("sha"),
      struct(
        col("event_type").as("message"),
        when(authorAbsent, lit(null).cast(rawCommitSchema("commit").dataType
            .asInstanceOf[StructType]("author").dataType))
          .otherwise(struct(
            concat(lit("u"), col("user_id"), lit("@a")).as("email"),
            when(authorDateNull, lit(null).cast(StringType))
              .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
              .as("date"))).as("author"),
        when(commAbsent, lit(null).cast(rawCommitSchema("commit").dataType
            .asInstanceOf[StructType]("committer").dataType))
          .otherwise(struct(
            concat(lit("u"), col("user_id"), lit("@c")).as("email"),
            when(commDateNull, lit(null).cast(StringType))
              .otherwise(date_format(col("ts") + expr("interval 1 hour"),
                "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
              .as("date"))).as("committer")).as("commit"))
  }

  /** O4+O5: flatten nested commits into the stored `CommitData` shape with
    * the reference's *paired* conditional (`git_etl.ts:85-105`): timestamp is
    * author.date if present else committer.date, and the email follows
    * whichever branch supplied the date; if neither has a date, email stays
    * author.email and the timestamp is null. A pure `Project` node — no UDF.
    */
  def parseCommits(raw: DataFrame): DataFrame = {
    val aDate = to_timestamp(col("commit.author.date"))
    val cDate = to_timestamp(col("commit.committer.date"))
    raw.select(
      col("sha").as("commit_hash"),
      when(aDate.isNotNull, aDate)
        .when(cDate.isNotNull, cDate)
        .otherwise(lit(null).cast(TimestampType)).as("commit_ts"),
      col("commit.message").as("commit_message"),
      when(aDate.isNotNull, col("commit.author.email"))
        .when(cDate.isNotNull, col("commit.committer.email"))
        .otherwise(col("commit.author.email")).as("commit_email"))
  }

  /** O6: null-skipping max watermark, returned as a 1-row DataFrame so it can
    * be broadcast into the incremental filter without a driver collect. */
  def watermark(stored: DataFrame, tsCol: String): DataFrame =
    stored.agg(max(col(tsCol)).as("wm"))

  /** O9: the +1-second exclusive lower bound (`git_etl.ts:319-324`,
    * `SECOND` const at `git_etl.ts:4`). Null watermark (empty store) means
    * full history: the predicate degrades to `true` via coalesce. */
  def incrementalSlice(source: DataFrame, wm: DataFrame, tsCol: String): DataFrame =
    source.crossJoin(broadcast(wm))
      .where(col("wm").isNull || col(tsCol) >= col("wm") + expr("interval 1 second"))
      .drop("wm")

  /** O8: keyed last-writer-wins upsert of `incoming` over `existing`, as a
    * deterministic batch operator: per key, the incoming row wins; within a
    * batch, ties break on `orderCols`. This is the `read ∪ new →
    * dedup-by-key → overwrite` cycle SURVEY §7.4 describes; the window is a
    * single shuffle on the key, so at scale the rows spread over all of
    * the shuffle's partitions by the key's hash.
    *
    * `cluster = Some(c -> n)` makes that one shuffle go by the column `c`
    * (a function of the key) into `n` partitions instead, and ranks within
    * (`c`, key): the same rows win, and the result comes out laid out by
    * `c` — what a writer partitioning its output by `c` wants. Each value
    * of `c` is then ranked by one task, so at most `n` tasks run: meant
    * for inputs small enough that AQE would run no more
    * (`Sinks.bucketSlots`).
    */
  def upsert(existing: DataFrame, incoming: DataFrame, key: String,
             orderCols: Seq[String], cluster: Option[(String, Int)] = None): DataFrame = {
    val tagged = existing.withColumn("_src", lit(0))
      .unionByName(incoming.withColumn("_src", lit(1)))
    val spread = cluster.fold(tagged) { case (c, n) => tagged.repartition(n, col(c)) }
    val w = Window.partitionBy((cluster.map(_._1).toSeq :+ key).map(col): _*)
      .orderBy(col("_src").desc +: orderCols.map(c => col(c).desc): _*)
    spread.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_src", "_rn")
  }

  // ---- driver-contract queries -------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_watermark" -> ((s, dir) =>
      watermark(Tables.load(s, dir, "events"), "ts").select(col("wm").as("max_ts"))),

    "ingest_parse_commits" -> ((s, dir) =>
      parseCommits(synthesizeRawCommits(Tables.load(s, dir, "events")))
        .orderBy(col("commit_hash"))),

    "ingest_incremental" -> { (s, dir) =>
      // first-half store -> watermark -> +1s exclusive fetch -> per-type stats
      val ev = Tables.load(s, dir, "events")
      val stored = ev.where(col("ts") < lit("2024-01-15").cast(TimestampType))
      val fresh = incrementalSlice(ev, watermark(stored, "ts"), "ts")
      fresh.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts"),
          graft.util.Exact.sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    "ingest_upsert" -> { (s, dir) =>
      // overlapping re-delivery: batch2 re-ships everything >= 01-10 with a
      // bumped value; the keyed upsert keeps exactly one row per key with
      // batch2 winning on overlap (git_etl.ts:127-132 last-writer-wins).
      val ev = Tables.load(s, dir, "events")
      val b1 = ev.where(col("ts") < lit("2024-01-20").cast(TimestampType))
      val b2 = ev.where(col("ts") >= lit("2024-01-10").cast(TimestampType))
        .withColumn("value", col("value") + 1)
      upsert(b1, b2, "event_id", Seq("ts"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.util.Exact.sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    })

  def oracleSql: Map[String, String] = Map(
    "ingest_watermark" ->
      "SELECT max(ts) AS max_ts FROM events",

    "ingest_parse_commits" -> """
      SELECT CAST(event_id AS VARCHAR) AS commit_hash,
             CASE WHEN event_id % 7 <> 0 AND event_id % 3 <> 0 THEN ts
                  WHEN event_id % 11 <> 0 AND event_id % 5 <> 0 THEN ts + INTERVAL 1 HOUR
                  ELSE NULL END AS commit_ts,
             event_type AS commit_message,
             CASE WHEN event_id % 7 <> 0 AND event_id % 3 <> 0 THEN 'u' || user_id || '@a'
                  WHEN event_id % 11 <> 0 AND event_id % 5 <> 0 THEN 'u' || user_id || '@c'
                  WHEN event_id % 7 <> 0 THEN 'u' || user_id || '@a'
                  ELSE NULL END AS commit_email
      FROM events ORDER BY commit_hash""",

    "ingest_incremental" -> s"""
      WITH wm AS (SELECT max(ts) AS w FROM events WHERE ts < TIMESTAMP '2024-01-15')
      SELECT event_type, count(*) AS n, max(ts) AS max_ts,
             ${graft.util.Exact.sqlSumFix("value", 2)} AS sum_value
      FROM events, wm WHERE ts >= w + INTERVAL 1 SECOND
      GROUP BY event_type ORDER BY event_type""",

    "ingest_upsert" -> s"""
      SELECT event_type, count(*) AS n,
             ${graft.util.Exact.sqlSumFix("CASE WHEN ts >= TIMESTAMP '2024-01-10' THEN value + 1 ELSE value END", 2)} AS sum_value
      FROM events WHERE ts < TIMESTAMP '2024-01-20' OR ts >= TIMESTAMP '2024-01-10'
      GROUP BY event_type ORDER BY event_type""")
}
