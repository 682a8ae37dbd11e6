package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.{Spj, Tables}

/** Storage-partitioned join (SPJ, SPARK-37375) over the DSv2 bucket-store
  * source: two co-bucketed stores must join AND aggregate with zero
  * shuffle exchanges, because each scan reports its physical layout as a
  * KeyGroupedPartitioning on `_bucket`. The negative control proves the
  * mechanism: the identical query with v2 bucketing off shuffles both
  * sides. */
class SpjSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val base = Sinks.scratch("spj_spec")
  private lazy val ordStore = s"$base/orders"
  private lazy val custStore = s"$base/customer"

  private lazy val stores: Unit =
    Spj.buildStores(spark, dir, ordStore, custStore, nBuckets = 8)

  /** The join+aggregate pipeline under test (no final sort — the spec
    * asserts the exchange-free core; the entry's orderBy is presentation). */
  private def pipeline(): DataFrame = {
    val o = Spj.read(spark, ordStore).alias("o")
    val c = Spj.read(spark, custStore).alias("c")
    o.join(c,
        col("o.o_custkey") === col("c.c_custkey") &&
          col("o._bucket") === col("c._bucket"))
      .groupBy(col("o._bucket").as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o.o_totalprice")), 2).as("revenue"))
  }

  /** Finalized (post-AQE) physical plan string. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("co-bucketed store join + per-bucket aggregate plans with ZERO exchanges") {
    stores
    Spj.withSpj(spark) {
      val p = finalPlan(pipeline())
      assert(!p.contains("Exchange"),
        s"expected a shuffle-free storage-partitioned join, got:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"expected a sort-merge join (broadcast disabled in withSpj):\n$p")
    }
  }

  test("negative control: same join without v2 bucketing shuffles both sides") {
    stores
    // broadcast still disabled so the comparison is exchange vs no-exchange
    // on the same join algorithm, not broadcast-vs-SMJ
    val old = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = finalPlan(pipeline())
      assert(p.contains("Exchange"),
        s"without v2 bucketing the join must shuffle, got:\n$p")
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("scan reports one partition per bucket and prunes to requested columns") {
    stores
    Spj.withSpj(spark) {
      val df = Spj.read(spark, ordStore).select(col("o_custkey"))
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }
      assert(scans.nonEmpty, "expected a BatchScanExec over the store")
      val names = scans.head.scan.readSchema().fieldNames.toSet
      // `_bucket` stays (the reported partitioning references it — free,
      // injected from the partition); the other data columns are pruned
      assert(names == Set("o_custkey", "_bucket"),
        s"expected pruned read schema, got $names")
      assert(scans.head.inputRDD.getNumPartitions == 8,
        "expected one input partition per bucket")
    }
  }

  test("store read round-trips the merged data exactly") {
    stores
    val viaSource = Spj.read(spark, ordStore)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val viaParquet = spark.read.parquet(ordStore)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    assert(viaSource.exceptAll(viaParquet).isEmpty &&
      viaParquet.exceptAll(viaSource).isEmpty,
      "DSv2 store read must equal the native parquet read")
    // and the store equals the source table (keyed upsert of unique keys)
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    assert(viaSource.exceptAll(orders).isEmpty &&
      orders.exceptAll(viaSource).isEmpty,
      "store contents must equal the ingested table")
  }
}
