package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.functions.GraftFunctions
import graft.ingest.CommitEtl
import graft.ops.{Aggregates, Analytics, AsOf, Cbo, Extras, Quality, Relational, Scalars, TimeWindows, Typed, Windows}
import graft.sources.Tables
import graft.streaming.StreamOps

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Every implemented operator is registered here as a named
  * `(SparkSession, sfDir) => DataFrame` with (where SQL-expressible) a
  * DuckDB oracle in [[oracleSql]]. Modules contribute their own maps.
  */
object SparkEntry {

  /** Flagship (SURVEY §7.2): the reference's core question — "latest
    * activity since the watermark, deduped, per source" — over `events`:
    * scan → pushdown filter → keyed dedup → hash agg → stable sort. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_ENTRY_DIR", "/root/testdata/sf0.001")
    val ev = Tables.load(spark, dir, "events")
    val stored = ev.where(col("ts") < lit("2024-01-15").cast(TimestampType))
    CommitEtl.incrementalSlice(ev, CommitEtl.watermark(stored, "ts"), "ts")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts"))
      .orderBy(col("event_type"))
  }

  type Query = (SparkSession, String) => DataFrame

  /** One entry per implemented operator from SURVEY.md §2. Every entry
    * registers the graft functions on the session it is handed, so an
    * entry runs on any session, including one the driver built itself. */
  def queries: Map[String, Query] = operators.map { case (name, fn) =>
    name -> { (s: SparkSession, dir: String) => GraftFunctions.register(s); fn(s, dir) }
  }

  /** The entries named in a comma-separated `filter`; all of them when
    * there is no filter or it names nothing. A name that is not an entry
    * fails the selection, listing every such name. */
  def select(filter: Option[String]): Map[String, Query] = {
    val names = filter.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    if (filter.isDefined && names.isEmpty)
      System.err.println("[entry] blank query filter — running ALL queries")
    val all = queries
    val unknown = names -- all.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    if (names.isEmpty) all else all.filter { case (name, _) => names.contains(name) }
  }

  private def operators: Map[String, Query] =
    CommitEtl.queries ++ Relational.queries ++ Aggregates.queries ++
      Windows.queries ++ Scalars.queries ++ Extras.queries ++ Typed.queries ++
      AsOf.queries ++ TimeWindows.queries ++ Analytics.queries ++
      Quality.queries ++ StreamOps.queries ++
      graft.llm.Dedup.queries ++ graft.llm.IncrementalDedup.queries ++
      graft.llm.Similarity.queries ++ graft.llm.IncrementalAnn.queries ++
      graft.llm.TextAnalysis.queries ++ graft.llm.Multimodal.queries ++
      graft.llm.Curation.queries ++ graft.llm.Safety.queries ++
      graft.llm.Retrieval.queries ++ graft.llm.IncrementalRetrieval.queries ++
      graft.llm.Graph.queries ++ graft.llm.MultiIndex.queries ++ graft.sinks.Sinks.queries ++ Cbo.queries ++
      graft.sources.Spj.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    CommitEtl.oracleSql ++ Relational.oracleSql ++ Aggregates.oracleSql ++
      Windows.oracleSql ++ Scalars.oracleSql ++ Extras.oracleSql ++ Typed.oracleSql ++
      AsOf.oracleSql ++ TimeWindows.oracleSql ++ Analytics.oracleSql ++
      Quality.oracleSql ++ StreamOps.oracleSql ++
      graft.llm.Dedup.oracleSql ++ graft.llm.IncrementalDedup.oracleSql ++
      graft.llm.Similarity.oracleSql ++ graft.llm.IncrementalAnn.oracleSql ++
      graft.llm.TextAnalysis.oracleSql ++ graft.llm.Multimodal.oracleSql ++
      graft.llm.Curation.oracleSql ++ graft.llm.Safety.oracleSql ++
      graft.llm.Retrieval.oracleSql ++ graft.llm.IncrementalRetrieval.oracleSql ++
      graft.llm.Graph.oracleSql ++ graft.llm.MultiIndex.oracleSql ++ graft.sinks.Sinks.oracleSql ++ Cbo.oracleSql ++
      graft.sources.Spj.oracleSql
}
