package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema'd loaders for the driver test tables (`/root/repo/TESTDATA.md`).
  *
  * Schemas are declared explicitly rather than inferred: on a 100 TB lake a
  * footer-infer pass over millions of files is a real planning cost, and an
  * explicit `StructType` also pins nullability and lets Catalyst prune
  * columns/partitions against a known shape. (The reference trusts its source
  * typings the same way — `git_etl.ts:17-22` — but never enforces them;
  * here the scan enforces the contract.)
  */
object Tables {

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Raw-long schema for NANOS-generation events fixtures (see [[load]]:
    * Spark 4 refuses to map parquet TIMESTAMP(NANOS) to TimestampType —
    * PARQUET_TYPE_ILLEGAL — so those files are read as raw nanos under
    * the legacy `nanosAsLong` conf and truncated to micros, the same
    * truncation DuckDB applies; FIXTURES.md B). */
  val eventsRawNs: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)

  /** Session configs every graft session needs; applied once at session
    * build (Verify/Bench/Probe/tests and the perfbench harness) rather than
    * mutated per-load — `nanosAsLong` lets the ns-timestamp events parquet
    * be read as raw longs, and the `spark.hadoop.` copies of
    * [[graft.util.Fs.localConfs]] bind `file:` paths to the fork-free local
    * filesystem (every Spark write's files and directories get their modes
    * without a forked `chmod`). */
  val sessionConfs: Map[String, String] = graft.util.Fs.localConfs.map {
    case (k, v) => s"spark.hadoop.$k" -> v } ++ Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // FileOutputCommitter v2 (r15): task commit renames task output
    // directly into the destination instead of deferring every rename to
    // a SEQUENTIAL driver-side job commit — v1's job-commit loop is
    // O(task-count) driver renames, which is both the measured fat of
    // this engine's many small store writes (tick-suite slice min/median
    // ~8-11% faster) and a known large-job stall at cluster scale (a
    // 100k-task write's job commit is 100k serial renames on ONE node).
    // Safe here by construction: speculative execution is off, and every
    // multi-writer surface in the engine layers its OWN atomicity on top
    // (writeAtomic stage+rename, per-bucket staged swaps, _SUCCESS-gated
    // replay artifacts), so v2's weaker mid-job visibility is never
    // observable by a reader. On object stores without atomic rename
    // neither v1 nor v2 applies — that deployment swaps in a manifest
    // committer, which is a deploy-time setting, not an engine change.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2")

  /** Does `dir`'s events.parquet carry a NANOS ts (older driver fixtures)
    * or a plain MICROS TimestampType (current ones)? Probed from the
    * parquet footer once per directory: under `nanosAsLong` a NANOS
    * column infers as LongType, a MICROS one as TimestampType. Cached —
    * the footer never changes within a run. */
  private val eventsTsIsNanos =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  def eventsIsNanos(spark: SparkSession, dir: String): Boolean =
    eventsTsIsNanos.computeIfAbsent(dir, _ =>
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == LongType)

  /** Scan-parallelism floor below which [[spread]] is a no-op: inputs
    * smaller than this finish faster than the spreading shuffle costs
    * (all driver fixtures up to sf0.1 are below it, so driver-scale
    * plans are bit-identical with or without the guard). */
  val SpreadMinBytes: Long = 16L << 20

  /** Amplification guard: a single dense parquet file is ONE scan split
    * (a 58 MB / 500 k-doc corpus file is also a single row group, so
    * `maxPartitionBytes` cannot subdivide it), and the explode-shaped
    * operators downstream (gram/shingle/token streams) amplify each
    * scanned byte ~100-200× — every core but one idles through the
    * widest stages of the plan. Measured at generated sf1: the
    * exact-substring gram aggregation ran 437 s fed by a 1-split scan.
    * If the input's planned split count is below the session's cores AND
    * the scan is big enough that the fan-out shuffle pays for itself
    * ([[SpreadMinBytes]]), hash-spread the rows across the cores first.
    * At lake scale inputs arrive with thousands of splits, so this is a
    * no-op — the guard exists for the dense-few-files layout small
    * corpora and single-file micro-batch ticks actually have. Safe on
    * any caller: `.rdd` here plans a bare scan (no exchanges, so no
    * AQE stages execute), and every engine result is
    * partitioning-independent by construction (the oracle gate
    * hash-compares them). */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // sizeInBytes is only meaningful for file-backed plans; a plan with
    // no propagated stats (LogicalRDD-backed foreachBatch batches on
    // some paths, in-memory test frames) reports defaultSizeInBytes
    // (Long.MaxValue) or a product of it — treating that as "huge" made
    // tiny micro-batch ticks pay a cores-wide repartition shuffle per
    // tick. Unknown size is treated as below the floor: the guard only
    // fires when it can PROVE the input is big enough to amortize the
    // spreading shuffle.
    val unknown = bytes >= BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (unknown || bytes < SpreadMinBytes) df
    else if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }

  /** Load one driver table. Filter/projection on the result push down to the
    * parquet scan (verify with `.explain`: `PushedFilters`, `ReadSchema` —
    * the [[spread]] guard sits above the scan and predicates push through
    * its Repartition node). `events.ts` is fixture-generation-dependent:
    * parquet TIMESTAMP(NANOS) (which Spark 4 refuses to map to
    * TimestampType — read as raw nanos via the legacy `nanosAsLong` conf
    * and truncate to micros, the same truncation DuckDB applies) or plain
    * TIMESTAMP(MICROS) (read directly). [[eventsIsNanos]] picks the
    * branch from the footer, so both generations of driver testdata read
    * identically (FIXTURES.md B). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events" && eventsIsNanos(spark, dir)) {
      spread(spark.read.schema(eventsRawNs).parquet(s"$dir/$name.parquet")
        .withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))) // ns -> µs truncation, as DuckDB
    } else {
      spread(spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet"))
    }
}
