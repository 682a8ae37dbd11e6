package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.ops.Cbo
import graft.sinks.Sinks

/** Cost-based join reorder, pinned on a case where the right answer is
  * unambiguous: two 30k-row tables and a 10-row table, all joinable on
  * `k`, DECLARED big ⋈ big first. Without stats the optimizer must keep
  * the declared order (it has no basis to do otherwise); with CBO + a
  * fresh ANALYZE it must move the selective table off the tail — the
  * difference between a ~3M-row intermediate and a ~1k-row one, which at
  * 100 TB is the difference between a multi-TB shuffle and a broadcast.
  */
class CboSpec extends SparkSpec {

  /** Catalog-table leaves of the optimized plan, in join-tree order. */
  private def leafOrder(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: LogicalRelation =>
        l.catalogTable.map(_.identifier.table).getOrElse("?")
    }.filter(_.startsWith("cbo_"))

  test("stats-driven reorder breaks the declared big-big-first order; same rows") {
    import spark.implicits._
    val base = Sinks.scratch("cbo_spec")
    // 300 distinct keys, 100 rows each -> big x big = ~3M intermediate;
    // the small table keeps 10 of those keys -> small-first = ~1k rows
    spark.range(30000).select(($"id" % 300).as("k"), $"id".as("pay1"))
      .write.mode("overwrite").parquet(s"$base/cbo_big1.parquet")
    spark.range(30000).select(($"id" % 300).as("k"), $"id".as("pay2"))
      .write.mode("overwrite").parquet(s"$base/cbo_big2.parquet")
    spark.range(10).select($"id".as("k"), $"id".as("tag"))
      .write.mode("overwrite").parquet(s"$base/cbo_small.parquet")
    Cbo.registerAnalyzed(spark, base, Seq("cbo_big1", "cbo_big2", "cbo_small"))
    val q = s"""
      SELECT b1.k AS k, count(*) AS n
      FROM ${Cbo.db}.cbo_big1 b1
      JOIN ${Cbo.db}.cbo_big2 b2 ON b1.k = b2.k
      JOIN ${Cbo.db}.cbo_small sm ON b1.k = sm.k
      GROUP BY b1.k ORDER BY k"""
    val declared = leafOrder(spark.sql(q))
    assert(declared === Seq("cbo_big1", "cbo_big2", "cbo_small"),
      s"without CBO the declared order must survive, got $declared")
    val plainRows = spark.sql(q).collect()
    val (reordered, cboRows) = Cbo.withCbo(spark) {
      val df = spark.sql(q)
      (leafOrder(df), df.collect())
    }
    assert(reordered.toSet === declared.toSet, "reorder must not drop a relation")
    assert(reordered !== declared,
      s"with stats the pessimal declared order must be rewritten, got $reordered")
    // the selective table must sit next to a big one, not after big x big
    assert(reordered.take(2).contains("cbo_small"),
      s"cbo_small should join early, got $reordered")
    assert(cboRows === plainRows, "reorder must not change the result")
    // and the real-table entry plans + answers under the same flags
    // (oracle-checked in the gate; here just non-empty and conf restored)
    assert(spark.conf.get("spark.sql.cbo.enabled") === "false",
      "withCbo must restore session confs")
  }
}
