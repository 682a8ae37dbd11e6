package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact._

/** Aggregation surface (SURVEY.md §2.2 "Aggregations"): multi-distinct,
  * rollup/cube/grouping sets, stats, ordered collect, sketches, and a custom
  * `Aggregator` (UDAF path).
  *
  * All are partial+final hash aggregates (map-side combine), so at 100 TB the
  * shuffle carries one row per (partition, group) — never raw rows. The
  * custom aggregator keeps its buffer to two longs (exact, order-independent)
  * for the same reason.
  */
object Aggregates {
  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  /** Custom typed Aggregator (the UDAF path the reference's host-language
    * loops approximate): quantity-weighted average price, accumulated in
    * exact cents so merge order is irrelevant across partitions. */
  object WeightedAvgPrice extends Aggregator[(Double, Double), (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), r: (Double, Double)): (Long, Long) = {
      val qty = math.rint(r._1).toLong // round-half-even, as the oracle's CAST AS BIGINT
      val cents = math.floor(r._2 * 100 + 0.5).toLong
      (b._1 + qty * cents, b._2 + qty)
    }
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Long, Long)): Double =
      if (b._2 == 0) 0.0 else (b._1.toDouble / b._2.toDouble) / 100.0
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private def groupingInt(c: Column): Column = grouping(c).cast("int")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_agg_multi_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          countDistinct(col("o_orderpriority")).as("n_prios"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))),

    "q_agg_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumFix(col("l_quantity"), 2).as("sum_qty"),
          groupingInt(col("l_returnflag")).as("g_rf"),
          groupingInt(col("l_linestatus")).as("g_ls"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    "q_agg_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    "q_agg_grouping_sets" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    "q_agg_stats" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          avgFix(col("c_acctbal"), 2).as("avg_bal"),
          fix(stddev_samp(col("c_acctbal")), 4).as("sd_bal"))
        .orderBy(col("c_mktsegment"))),

    "q_agg_collect" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("prios"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))),

    // HLL++ sketch: the raw estimate differs from DuckDB's sketch by
    // design, so the checkable contract is the ERROR BOUND, not the value —
    // each engine computes its own approx count and the shared boolean
    // `within_10pct` (HLL++ standard error is ~1.6% at default precision;
    // the bound sits 6 sigma out so a new scale factor or an engine's
    // sketch-version change cannot plausibly flip it — approximation drift
    // must never masquerade as an oracle failure). This turns the last
    // rows-only entry into a full hash-checked one.
    "q_agg_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .selectExpr("l_returnflag", "exact_parts",
          "CAST(abs(approx_parts - exact_parts) AS DOUBLE) / exact_parts <= 0.10 AS within_10pct")
        .orderBy(col("l_returnflag"))),

    "q_agg_custom_wavg" -> { (s, dir) =>
      val wavg = udaf(WeightedAvgPrice,
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(wavg(col("l_quantity"), col("l_extendedprice")).as("wavg_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // The same weighted average through the DeclarativeAggregate tier:
    // pure-expression buffer/update/merge, fully inside codegen's
    // HashAggregate (graft.functions.ExactWeightedAvg).
    "q_agg_declarative_wavg" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("graft_wavg(l_quantity, l_extendedprice)").as("wavg_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // Exact interpolated percentiles (Spark `percentile` == DuckDB
    // quantile_cont: both use linear interpolation at (n-1)*p).
    "q_agg_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          fix(expr("percentile(l_quantity, 0.25)"), 6).as("p25_qty"),
          fix(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          fix(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Mergeable quantile sketch with a bounded-error contract (the
    // q_agg_approx_distinct pattern applied to percentiles): Spark's
    // percentile_approx (Greenwald-Khanna, rank error <= n/accuracy =
    // n/10000 here) must land between the exact 48th and 52nd
    // percentiles — a ~200x slack over the guarantee, so the boolean is
    // robust, and a broken sketch still hash-mismatches the oracle's
    // TRUE. Exact values ride along as the cross-engine-checked payload.
    // At 100 TB the sketch (not the exact sort-based percentile) is the
    // servable artifact: fixed size, partial-aggregate mergeable.
    // HLL sketch LIFECYCLE (DataSketches): build one mergeable sketch per
    // group, then derive the global distinct estimate by MERGING THE
    // SKETCHES — the raw column is never re-scanned for the rollup. This
    // is the 100 TB pattern the one-shot approx_count_distinct can't do:
    // per-day/per-source sketch tables persisted once, any ad-hoc slice
    // answered by unioning fixed-size binaries. Estimates are
    // engine-specific, so (the established approx contract) the result
    // carries the exact payload + a bounded-error boolean; the merged-ALL
    // row asserts the union estimate stays within 10% of the true global
    // distinct count.
    "q_agg_sketch_lifecycle" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val sk = e.groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("skt"),
          countDistinct(col("user_id")).as("exact_users"))
        .localCheckpoint() // one build feeds per-group rows AND the merge
      val per = sk.select(col("event_type"), col("exact_users"),
        expr("hll_sketch_estimate(skt)").as("est"))
      val global = e.agg(countDistinct(col("user_id")).as("exact_users"))
      val all = sk.agg(expr("hll_union_agg(skt)").as("skt"))
        .crossJoin(broadcast(global))
        .select(lit("ALL").as("event_type"), col("exact_users"),
          expr("hll_sketch_estimate(skt)").as("est"))
      per.unionByName(all)
        .selectExpr("event_type", "exact_users",
          "CAST(abs(est - exact_users) AS DOUBLE) / exact_users <= 0.10 AS within_10pct")
        .orderBy(col("event_type"))
    },

    // Approximate set INTERSECTION from mergeable sketches: HLL unions
    // compose, intersections don't — the standard serve is
    // inclusion-exclusion over three union-able sketches:
    // |A∩B| ≈ est(A) + est(B) − est(A∪B). The audit every sketch-backed
    // overlap dashboard needs ("how many customers ordered under BOTH
    // statuses?") without ever re-scanning raw data: the two per-slice
    // sketches are built once and the cross-slice answer is pure sketch
    // algebra. Estimates are engine-specific ⇒ the established
    // bounded-error contract: exact payloads + a boolean the oracle pins
    // (inclusion-exclusion compounds the per-sketch error ~3×, so the
    // bound is 10% of the UNION size, the quantity the subtraction
    // actually perturbs).
    "q_agg_sketch_intersect" -> { (s, dir) =>
      val or = t(s, dir, "orders")
      def side(st: String) = or.where(col("o_orderstatus") === st)
        .agg(expr("hll_sketch_agg(o_custkey, 14)").as(s"sk_$st"),
          countDistinct(col("o_custkey")).as(s"n_$st"))
      val exact = or.where(col("o_orderstatus") === "F")
        .select(col("o_custkey")).intersect(
          or.where(col("o_orderstatus") === "O").select(col("o_custkey")))
        .agg(count(lit(1)).as("exact_both"))
      side("F").crossJoin(side("O")).crossJoin(broadcast(exact))
        .selectExpr("n_F AS exact_f", "n_O AS exact_o", "exact_both",
          "hll_sketch_estimate(sk_F) + hll_sketch_estimate(sk_O) - " +
            "hll_sketch_estimate(hll_union(sk_F, sk_O)) AS est_both_raw",
          "hll_sketch_estimate(hll_union(sk_F, sk_O)) AS est_union_raw")
        .selectExpr("exact_f", "exact_o", "exact_both",
          "CAST(abs(est_both_raw - exact_both) AS DOUBLE) / est_union_raw " +
            "<= 0.10 AS within_bound")
    },

    "q_agg_approx_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("approx_p50"),
          // ONE exact-percentile buffer for all three points (array form)
          // instead of three independent per-group value collections —
          // measured 4.5 s -> ~1.7 s at sf0.1
          expr("percentile(l_extendedprice, array(0.5, 0.48, 0.52))").as("ps"),
          count(lit(1)).as("n"))
        .selectExpr("l_returnflag", "n", "approx_p50",
          "element_at(ps, 1) AS exact_raw",
          "element_at(ps, 2) AS lo", "element_at(ps, 3) AS hi")
        .select(col("l_returnflag"), fix(col("exact_raw"), 6).as("exact_p50"), col("n"),
          expr("approx_p50 >= lo AND approx_p50 <= hi").as("within_bound"))
        .orderBy(col("l_returnflag"))))

  def oracleSql: Map[String, String] = Map(
    // bounded-error contract: each engine's own HLL estimate vs its exact
    // count; the boolean (not the sketch value) is the cross-engine result
    "q_agg_approx_distinct" -> """
      SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
             CAST(abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) AS DOUBLE)
               / count(DISTINCT l_partkey) <= 0.10 AS within_10pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_multi_distinct" -> """
      SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs,
             count(DISTINCT o_orderpriority) AS n_prios, count(*) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_agg_rollup" -> s"""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             ${sqlSumFix("l_quantity", 2)} AS sum_qty,
             CAST(grouping(l_returnflag) AS INT) AS g_rf,
             CAST(grouping(l_linestatus) AS INT) AS g_ls
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_agg_cube" -> s"""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             ${sqlSumFix("o_totalprice", 2)} AS total
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "q_agg_grouping_sets" -> s"""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             ${sqlSumFix("o_totalprice", 2)} AS total
      FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "q_agg_stats" -> s"""
      SELECT c_mktsegment, count(*) AS n,
             min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
             ${sqlAvgFix("c_acctbal", 2)} AS avg_bal,
             ${sqlFix("stddev_samp(c_acctbal)", 4)} AS sd_bal
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_agg_collect" -> """
      SELECT o_orderstatus,
             (SELECT string_agg(p, ',' ORDER BY p) FROM (
                SELECT DISTINCT o2.o_orderpriority AS p FROM orders o2
                WHERE o2.o_orderstatus = o.o_orderstatus)) AS prios,
             count(*) AS n
      FROM orders o GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_agg_custom_wavg" -> """
      SELECT l_returnflag,
             sum(CAST(l_quantity AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0 AS wavg_price,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // rows with a null qty OR price are ignored entirely, mirroring the
    // null-safe updateExpressions in graft.functions.ExactWeightedAvg;
    // the outer coalesce mirrors its sumQty==0 branch (evaluateExpression
    // returns 0.0 on an all-null group, where DuckDB's sum-of-no-rows
    // division yields NULL) — no TPC-H group hits it, but the two engines
    // now agree on empty groups by construction
    "q_agg_declarative_wavg" -> """
      SELECT l_returnflag,
             coalesce(
               sum(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                   THEN CAST(l_quantity AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) END)
                 / CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                            THEN CAST(l_quantity AS BIGINT) END) AS DOUBLE) / 100.0,
               0.0) AS wavg_price,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_percentile" -> s"""
      SELECT l_returnflag,
             ${sqlFix("quantile_cont(l_quantity, 0.25)", 6)} AS p25_qty,
             ${sqlFix("quantile_cont(l_quantity, 0.5)", 6)} AS median_qty,
             ${sqlFix("quantile_cont(l_extendedprice, 0.9)", 6)} AS p90_price,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // sketch estimates are engine-specific; the oracle pins the exact
    // distinct counts and asserts the bounded-error contract held (TRUE)
    "q_agg_sketch_lifecycle" -> """
      SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS within_10pct
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 'ALL', count(DISTINCT user_id), TRUE FROM events
      ORDER BY event_type""",

    // inclusion-exclusion estimates are engine-specific; the oracle pins
    // the exact per-slice and intersection counts and asserts the bound
    "q_agg_sketch_intersect" -> """
      SELECT
        (SELECT count(DISTINCT o_custkey) FROM orders
         WHERE o_orderstatus = 'F') AS exact_f,
        (SELECT count(DISTINCT o_custkey) FROM orders
         WHERE o_orderstatus = 'O') AS exact_o,
        (SELECT count(*) FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
          AS exact_both,
        TRUE AS within_bound""",

    // the bound check is Spark-side (DuckDB has no GK sketch); the oracle
    // pins the exact payload and asserts the contract held (TRUE)
    "q_agg_approx_percentile" -> s"""
      SELECT l_returnflag,
             ${sqlFix("quantile_cont(l_extendedprice, 0.5)", 6)} AS exact_p50,
             count(*) AS n, TRUE AS within_bound
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
}
