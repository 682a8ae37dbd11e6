package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.util.Exact._

/** Core relational surface: scans, filters/projections, joins of every
  * flavor, and set operations (SURVEY.md §2.2 rows: scans, projection/filter,
  * predicates, joins, set ops).
  *
  * Scale notes baked into each query:
  *  - dimension tables (region/nation/supplier/part at TPC-H ratios) are
  *    `broadcast()` — no shuffle of the fact side;
  *  - fact⨝fact joins (orders⨝lineitem) shuffle on the join key once and
  *    stay keyed for the downstream aggregate;
  *  - every filter/projection is declarative so Catalyst pushes it into the
  *    parquet scan (verify: `PushedFilters`/`ReadSchema` in `.explain`);
  *  - money aggregates use [[graft.util.Exact]] scaled-long sums, which are
  *    also partition-order-independent — a float `sum` at 100 TB is not.
  */
object Relational {
  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- filter + projection with pushdown (O2/O4 lineage) ------------------
    "q_filter_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast(TimestampType) &&
               col("l_discount").between(0.03, 0.07) && col("l_quantity") < 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          fix(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("net_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // -- TPC-H Q1: wide hash aggregate, map-side partials --------------------
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2000-12-01").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumFix(col("l_quantity"), 2).as("sum_qty"),
          sumFix(col("l_extendedprice"), 2).as("sum_base_price"),
          sumFix(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          sumFix(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 4).as("sum_charge"),
          avgFix(col("l_quantity"), 2).as("avg_qty"),
          avgFix(col("l_extendedprice"), 2).as("avg_price"),
          avgFix(col("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // -- TPC-H Q3-ish: fact⨝fact shuffle join + broadcast dim + top-k --------
    "q3_topk_revenue" -> { (s, dir) =>
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord  = t(s, dir, "orders").where(col("o_orderdate") < lit("2000-01-01").cast(TimestampType))
      val li   = t(s, dir, "lineitem").where(col("l_shipdate") > lit("1998-06-30").cast(TimestampType))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sumFix(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // -- TPC-H Q5-ish: 6-table join, dims broadcast, one fact shuffle --------
    "q5_multi_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val or = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
               col("o_orderdate") <  lit("1999-01-01").cast(TimestampType))
      val cu = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val na = t(s, dir, "nation")
      val re = t(s, dir, "region").where(col("r_name").isin("ASIA", "EUROPE"))
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cu), col("o_custkey") === col("c_custkey") &&
                             col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(na), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(re), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sumFix(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // -- TPC-H Q7-ish: one dim in TWO roles + disjunctive cross-dim filter ---
    // Nation joins twice under different roles (supplier's vs customer's
    // nation) and the pair filter is a disjunction ACROSS the two roles —
    // not pushable to either side alone, but Catalyst's constraint
    // propagation still derives per-side IN filters, so both nation scans
    // stay pruned. The planner probe q5/q9 don't ask: same-table
    // self-role aliasing under broadcast.
    "q7_nation_volume" -> { (s, dir) =>
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .where((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
               (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
        .withColumn("l_year", year(col("l_shipdate")))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sumFix(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    // -- TPC-H Q13-ish: outer-join count distribution (two-level agg) --------
    // Customers with their non-urgent order counts — LEFT join so
    // zero-order customers survive as c_count = 0 — then the histogram
    // of those counts. The two stacked aggregations reuse incompatible
    // groupings (custkey, then count value), so the planner must chain
    // two shuffles; count(o_orderkey) (null-skipping) is what makes the
    // outer join's unmatched rows land in the 0 bucket.
    "q13_order_distribution" -> { (s, dir) =>
      val ords = t(s, dir, "orders").where(col("o_orderpriority") =!= "1-URGENT")
      t(s, dir, "customer")
        .join(ords, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // -- TPC-H Q9-ish: 6-table snowflake, partitioned fact, DPP --------------
    // The 100×-scale join-planning probe q5 doesn't ask: a selective part
    // filter, broadcast dims (part/supplier/nation/year), exactly ONE
    // fact-fact shuffle (lineitem ⨝ orders), and a dim-driven DYNAMIC
    // partition prune — the fact is first written partitioned by ship
    // year (the layout a 100 TB fact actually has), and the filtered
    // year dimension prunes its partitions at runtime, so the scan reads
    // 4 of 7 year directories. Profit by supplier nation × order year.
    "q9_snowflake_profit" -> { (s, dir) =>
      val dest = graft.sinks.Sinks.scratch("lineitem_by_year")
      graft.sinks.Sinks.writeAtomic(
        t(s, dir, "lineitem").withColumn("l_shipyear", year(col("l_shipdate"))),
        dest, partitionCols = Seq("l_shipyear"))
      val yearDim = t(s, dir, "lineitem")
        .select(year(col("l_shipdate")).as("y")).distinct()
        .withColumn("epoch",
          expr("CASE WHEN y >= 1998 THEN 'modern' ELSE 'classic' END"))
      s.read.parquet(dest)
        .join(broadcast(yearDim.where(col("epoch") === "modern")),
          col("l_shipyear") === col("y"))
        .join(broadcast(t(s, dir, "part").where(col("p_type").isin("PROMO", "ECONOMY"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("o_year", year(col("o_orderdate")))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sumFix(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"), col("o_year"))
    },

    // -- TPC-H Q17-ish: correlated scalar agg (decorrelated by hand) ---------
    // "Lines ordering far below the part's typical quantity": a per-row
    // comparison against a PER-PART aggregate — the classic correlated
    // scalar subquery. The scale-correct plan (and what Catalyst's
    // decorrelation would produce) is written out explicitly: one keyed
    // aggregate over the brand-filtered fact slice, then a self-join back
    // on the SAME key, so both sides share one hash partitioning and no
    // per-row subquery ever executes. The predicate is the cross-
    // multiplied integer form qty*5*cnt < sum(qty) — exact in both
    // engines — while the oracle states the correlated subquery verbatim.
    "q17_small_qty_parts" -> { (s, dir) =>
      val pt = t(s, dir, "part")
        .where(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_brand"))
      val li = t(s, dir, "lineitem")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      val stats = li.groupBy(col("l_partkey").as("sk"))
        .agg(count(lit(1)).as("cnt"), sum(scaled(col("l_quantity"), 2)).as("sq"))
      li.join(stats, col("l_partkey") === col("sk"))
        .where(scaled(col("l_quantity"), 2) * lit(5L) * col("cnt") < col("sq"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small"),
          sumFix(col("l_extendedprice"), 2).as("small_revenue"))
        .orderBy(col("p_brand"))
    },

    // -- TPC-H Q18-ish: IN over a grouped-HAVING subquery + top-k ------------
    // Large-volume orders: the IN(grouped HAVING) membership test becomes
    // a left-semi join against the aggregated fact — the only plan that
    // survives at scale (the subquery's group-by output is itself huge, so
    // it must stay distributed; both the HAVING agg and the final agg key
    // on l_orderkey/o_orderkey and reuse one exchange).
    "q18_big_orders" -> { (s, dir) =>
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("bk"))
        .agg(sum(scaled(col("l_quantity"), 2)).as("sq"))
        .where(col("sq") > lit(25000L))
        .select(col("bk"))
      val ord = t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("bk"), "left_semi")
      t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(sumFix(col("l_quantity"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // -- TPC-H Q2-ish: correlated MIN subquery over a multi-table chain ------
    // Cheapest shipper per part (no partsupp table in this schema, so the
    // part↔supplier relationship is the DISTINCT (l_partkey, l_suppkey)
    // link derived from lineitem). The correlated min — "this supplier's
    // balance equals the minimum over all shippers of this part" — is
    // planned as one keyed min-aggregate + an equality join back, never a
    // per-row subquery. Filtered parts semi-prune the link table FIRST, so
    // the min is only computed for probed parts (what decorrelation +
    // pushdown must achieve at scale).
    "q2_min_shipper" -> { (s, dir) =>
      val pt = t(s, dir, "part")
        .where(col("p_type") === "PROMO" && col("p_size") < 15)
        .select(col("p_partkey"), col("p_brand"))
      val link = t(s, dir, "lineitem")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_brand"), col("l_suppkey")).distinct()
      val withBal = link.join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))),
        col("l_suppkey") === col("s_suppkey"))
      val mins = withBal.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("s_acctbal")).as("min_bal"))
      withBal.join(mins, col("p_partkey") === col("mk") &&
          col("s_acctbal") === col("min_bal"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"), col("s_acctbal"))
        .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_name"))
        .limit(100)
    },

    // -- TPC-H Q21-ish: EXISTS + NOT EXISTS self-joins, decorrelated ---------
    // "The sole supplier to return goods in a multi-supplier order": two
    // correlated self-probes of the fact (EXISTS another supplier's line;
    // NOT EXISTS another supplier's returned line). Per-row EXISTS against
    // a 100 TB fact is unrunnable — the scale plan contracts the fact to
    // ONE order-level aggregate (distinct suppliers, distinct returning
    // suppliers) and turns both probes into predicates on that slim table:
    // n_supp >= 2 ⟺ the EXISTS, n_r_supp = 1 ⟺ the NOT EXISTS (the
    // probing line itself returns, so "no OTHER returner" means exactly
    // one). The oracle states the EXISTS/NOT EXISTS form verbatim.
    "q21_sole_returner" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val ostats = li.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("l_returnflag") === "R", col("l_suppkey"))).as("n_r_supp"))
      li.where(col("l_returnflag") === "R")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "F")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .join(ostats, col("l_orderkey") === col("ok"))
        .where(col("n_supp") >= 2 && col("n_r_supp") === 1)
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(50)
    },

    // -- TPC-H Q15-ish: scalar MAX over an aggregate (argmax by equality) ----
    // "The top supplier(s) by quarter revenue": the revenue view aggregates
    // the filtered fact per supplier, and the winner is selected by
    // EQUALITY against the view's global max — Q15's view + scalar
    // subquery shape. The max contracts to ONE row and broadcasts back
    // over the per-supplier aggregate (never a global sort); ties all
    // surface (the reason Q15 uses equality, not LIMIT 1). Supplier
    // attributes attach by broadcast AFTER the argmax, so the wide dim
    // row never rides through the aggregation.
    "q15_top_supplier" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast(TimestampType) &&
               col("l_shipdate") <  lit("1998-04-01").cast(TimestampType))
        .groupBy(col("l_suppkey"))
        .agg(sum(scaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
          .as("rev4"))
      val mx = rev.agg(max(col("rev4")).as("max4"))
      rev.crossJoin(broadcast(mx))
        .where(col("rev4") === col("max4"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev4") / lit(1e4)).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },

    // -- TPC-H Q22-ish: anti join + scalar AVG subquery ----------------------
    // "Well-funded customers who never place urgent orders", bucketed by
    // the trailing digit of the customer name (the stand-in for Q22's
    // phone country code). Two classic subquery shapes at once: a scalar
    // aggregate threshold (balance above the positive-balance mean of the
    // digit cohort — cross-multiplied to exact integers, one 1-row
    // broadcast instead of a per-row subquery) and a NOT EXISTS anti join
    // against a filtered fact slice.
    "q22_idle_rich" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
        .withColumn("cty", substring(col("c_name"), -1, 1))
        .where(col("cty").isin("1", "3", "5", "7"))
      val stats = cust.where(col("c_acctbal") > 0)
        .agg(count(lit(1)).as("cohort_n"),
          sum(scaled(col("c_acctbal"), 2)).as("cohort_sum"))
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      cust.crossJoin(broadcast(stats))
        .where(scaled(col("c_acctbal"), 2) * col("cohort_n") > col("cohort_sum"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cty"))
        .agg(count(lit(1)).as("n_cust"), sumFix(col("c_acctbal"), 2).as("total_bal"))
        .orderBy(col("cty"))
    },

    // -- broadcast-hash join chain over dims ---------------------------------
    "q_broadcast_join" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), avgFix(col("c_acctbal"), 2).as("avg_bal"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // -- sort-merge join (hinted) — the 100 TB fact⨝fact path ----------------
    "q_merge_join" -> { (s, dir) =>
      val or = t(s, dir, "orders").hint("merge")
      t(s, dir, "lineitem").hint("merge")
        .join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"), sumFix(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    },

    // -- left outer with null handling ---------------------------------------
    "q_outer_join" -> { (s, dir) =>
      val or = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"),
          sumFix(col("o_totalprice"), 2).as("spend"))
      t(s, dir, "customer")
        .join(or, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("spend"), lit(0.0)).as("spend"))
        .orderBy(col("c_custkey"))
    },

    // -- semi / anti (EXISTS / NOT EXISTS) ------------------------------------
    "q_semi_join" -> { (s, dir) =>
      val ord = t(s, dir, "orders").where(col("o_totalprice") > 300000)
      t(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
    },
    "q_anti_join" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment")).orderBy(col("c_custkey"))
    },

    // -- theta/range join: equi key + range predicate ------------------------
    "q_range_join" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey") &&
          col("l_extendedprice") > col("p_retailprice") * 40)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), max(col("l_extendedprice")).as("max_price"))
        .orderBy(col("p_brand"))
    },

    // -- set operations -------------------------------------------------------
    "q_union" -> { (s, dir) =>
      val hi = t(s, dir, "customer").where(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("k"), lit("hi_bal").as("tag"))
      val bld = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING" &&
          col("c_acctbal") > 8000)
        .select(col("c_custkey").as("k"), lit("building").as("tag"))
      hi.unionByName(bld).orderBy(col("k"), col("tag"))
    },
    "q_intersect" -> { (s, dir) =>
      val a = t(s, dir, "orders").where(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      val b = t(s, dir, "orders").where(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
      a.intersect(b).orderBy(col("k"))
    },
    "q_except" -> { (s, dir) =>
      val a = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val b = t(s, dir, "orders").select(col("o_custkey").as("k"))
      a.except(b).orderBy(col("k"))
    },

    // -- distinct + multi-column dedup ----------------------------------------
    "q_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority")).distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))),

    // -- TPC-H Q8-ish: ratio of conditional aggregates per group -------------
    // "Market share of one nation's suppliers per order year": the
    // sum(CASE)/sum(total) shape — BOTH sums ride one keyed aggregate
    // over one fact pass (never two scans joined back), and the division
    // happens once per group on exact scaled-long partials. Dims
    // broadcast; the fact⨝fact orders join shuffles once.
    "q8_market_share" -> { (s, dir) =>
      val supNat = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, dir, "lineitem")
        .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("vol4", scaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("n_name") === "NATION_5", col("vol4")).otherwise(lit(0L)))
            .as("nat4"),
          sum(col("vol4")).as("tot4"))
        .select(col("o_year"),
          (col("nat4") / col("tot4")).as("mkt_share"),
          (col("tot4") / lit(1e4)).as("total_volume"))
        .orderBy(col("o_year"))
    },

    // -- TPC-H Q19-ish: disjunctive multi-predicate join ---------------------
    // The OR-of-ANDs shape: three alternative (type, size, quantity)
    // bands OR'ed inside one join predicate. The planner probe: Spark
    // must extract the COMMON l_partkey = p_partkey conjunct so the join
    // stays a broadcast-hash join with the disjunction as a residual
    // filter — a naive reading of the OR is a nested-loop over the fact.
    // The oracle states the disjunction verbatim.
    "q19_disjunctive_predicates" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val pt = broadcast(t(s, dir, "part"))
      li.join(pt,
          col("l_partkey") === col("p_partkey") && (
            (col("p_type") === "PROMO" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 15)) ||
            (col("p_type") === "ECONOMY" && col("p_size").between(10, 30) &&
              col("l_quantity").between(10, 25)) ||
            (col("p_type") === "STANDARD" && col("p_size").between(20, 50) &&
              col("l_quantity").between(20, 40))))
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n_lines"),
          sumFix(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy(col("p_type"))
    },

    // -- TPC-H Q11-ish: group-HAVING against a GLOBAL scalar aggregate -------
    // "Parts whose shipped value from the chosen nations exceeds a fixed
    // fraction of the total": the classic uncorrelated-scalar HAVING.
    // Scale plan: ONE keyed aggregate over the nation-sliced fact (the
    // dims broadcast), localCheckpoint'ed so the global total is a
    // re-aggregation of the part-count-sized result — the fact is scanned
    // ONCE, never once per side. The 1-row total broadcasts back over the
    // per-part rows (no per-group recompute), and the fraction test is
    // cross-multiplied to exact integers. Oracle states the scalar
    // subquery verbatim.
    "q11_important_stock" -> { (s, dir) =>
      val natSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .where(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val perPart = t(s, dir, "lineitem")
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(scaled(col("l_extendedprice"), 2) * scaled(col("l_quantity"), 2))
          .as("v4"))
        .localCheckpoint()
      val total = perPart.agg(sum(col("v4")).as("t4"))
      perPart.crossJoin(broadcast(total))
        .where(col("v4") * lit(1000L) > col("t4"))
        .select(col("l_partkey"), (col("v4") / lit(1e4)).as("stock_value"))
        .orderBy(col("stock_value").desc, col("l_partkey"))
    },

    // -- TPC-H Q20-ish: two-level correlated IN chain ------------------------
    // "Suppliers who dominate some promo part": suppliers IN (per-
    // (supplier, part) shipments over promo parts HAVING more than an
    // eighth of the part's total) — an IN whose subquery carries a correlated
    // scalar subquery. Decorrelated by hand to the only shape that scales:
    // promo-part membership is a broadcast semi join; the (supplier, part)
    // aggregate shuffles ONCE on l_partkey-involving keys; the per-part
    // total is a RE-aggregation of that same result (no second fact
    // scan) joined back on the shared key; the outer IN is a left-semi.
    // The oracle states the nested subqueries verbatim, which is the
    // probe: Spark's plan and DuckDB's decorrelation must agree.
    "q20_dominant_suppliers" -> { (s, dir) =>
      val promo = t(s, dir, "part").where(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val perPS = t(s, dir, "lineitem")
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(scaled(col("l_quantity"), 2)).as("sq"))
        .localCheckpoint()
      val perPart = perPS.groupBy(col("l_partkey")).agg(sum(col("sq")).as("tq"))
      val dominant = perPS.join(perPart, "l_partkey")
        .where(col("sq") * lit(8L) > col("tq"))
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },

    // -- TPC-H Q4-class: EXISTS with a NON-EQUI correlated conjunct ----------
    // Priority distribution of orders that had a late shipment (a line
    // shipped >60 days after the order date). The probe: the EXISTS
    // decorrelates to a LEFT SEMI whose condition carries BOTH the equi
    // key (hash-joinable) and a cross-table date comparison — Spark must
    // keep the hash join on l_orderkey and evaluate the date conjunct as
    // a join residual, never fall back to a nested loop. The oracle
    // states the correlated EXISTS verbatim.
    "q4_order_priority" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
               col("o_orderdate") <  lit("1997-04-01").cast(TimestampType))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li, col("l_orderkey") === col("o_orderkey") &&
                   col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // -- TPC-H Q6: the fully-pushed scalar aggregate -------------------------
    // One global sum under three tight predicates — the canonical "does
    // every filter reach the scan" probe (explain must show all three in
    // PushedFilters and a 2-column ReadSchema... plus the agg columns).
    // At 100 TB this is the shape where pushdown is the entire game:
    // a correct plan reads a fraction of one column pair.
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
               col("l_shipdate") <  lit("1998-01-01").cast(TimestampType) &&
               col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sumFix(col("l_extendedprice") * col("l_discount"), 4).as("revenue"))),

    // -- TPC-H Q10: returned-revenue top-k over a 4-table join ---------------
    // Who returned the most money in a quarter: fact⨝fact shuffle join
    // (orders⨝lineitem, both filtered first), customer + nation broadcast,
    // wide GROUP BY carrying the customer attributes, top-20 by revenue.
    // TakeOrderedAndProject must sit on top of the partial-aggregated
    // exchange — never a global sort of the full group set.
    "q10_returned_items" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1997-07-01").cast(TimestampType) &&
               col("o_orderdate") <  lit("1997-10-01").cast(TimestampType))
      t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sumFix(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // -- TPC-H Q12-class: conditional counts after a fact⨝fact join ----------
    // Per return-flag, how many lines belong to critical- vs normal-
    // priority orders (the reference Q12 pivots on ship mode, which the
    // fixture lacks; the planner shape — join two facts, then CASE-sum
    // against a dimension attribute of the OTHER fact — is identical).
    // Both conditional sums come from ONE pass of the joined rows.
    "q12_priority_shipping" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
               col("l_shipdate") <  lit("1998-01-01").cast(TimestampType))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1)))
            .as("high_line_count"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1)))
            .as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },

    // -- TPC-H Q14: conditional-over-total ratio (promo revenue share) -------
    // Numerator and denominator from ONE aggregate pass (CASE-sum of the
    // same scaled integer), ratio taken ONCE on the 1-row result with a
    // DOUBLE literal — the decimal-literal class the SchemaGuard now
    // gates stays dead. Part is broadcast; the month filter pushes down.
    "q14_promo_share" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-09-01").cast(TimestampType) &&
               col("l_shipdate") <  lit("1997-10-01").cast(TimestampType))
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .withColumn("rev4", scaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev4")).otherwise(lit(0L))).as("p4"),
          sum(col("rev4")).as("t4"))
        .select((lit(100.0) * col("p4") / col("t4")).as("promo_revenue_pct"))
    },

    // -- TPC-H Q16-class: distinct-count + null-aware NOT-IN exclusion -------
    // Supplier variety per (brand, type, size) over the DISTINCT
    // (part, supplier) shipment pairs (the fixture has no partsupp; the
    // observed pairs are its lineitem-derived stand-in), excluding
    // deadbeat suppliers via NOT IN — which Spark must recognize as a
    // broadcastable anti join since s_suppkey is non-null. The distinct
    // pair reduction shuffles once, BEFORE the part join fans attributes in.
    "q16_supplier_variety" -> { (s, dir) =>
      val bad = t(s, dir, "supplier").where(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "part")
            .where(col("p_type") =!= "PROMO" &&
                   col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    })

  def oracleSql: Map[String, String] = Map(
    "q_filter_project" -> s"""
      SELECT l_orderkey, l_linenumber,
             ${sqlFix("l_extendedprice * (1 - l_discount)", 2)} AS net_price
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 30
      ORDER BY l_orderkey, l_linenumber""",

    "q1_pricing_summary" -> s"""
      SELECT l_returnflag, l_linestatus,
             ${sqlSumFix("l_quantity", 2)} AS sum_qty,
             ${sqlSumFix("l_extendedprice", 2)} AS sum_base_price,
             ${sqlSumFix("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
             ${sqlSumFix("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 4)} AS sum_charge,
             ${sqlAvgFix("l_quantity", 2)} AS avg_qty,
             ${sqlAvgFix("l_extendedprice", 2)} AS avg_price,
             ${sqlAvgFix("l_discount", 4)} AS avg_disc,
             count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q3_topk_revenue" -> s"""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             ${sqlSumFix("l_extendedprice * (1 - l_discount)", 4)} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2000-01-01'
        AND l_shipdate > TIMESTAMP '1998-06-30'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q5_multi_join" -> s"""
      SELECT r_name, n_name,
             ${sqlSumFix("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name IN ('ASIA','EUROPE')
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1999-01-01'
      GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q7_nation_volume" -> s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             ${sqlSumFix("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""",

    "q13_order_distribution" -> """
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",

    "q9_snowflake_profit" -> s"""
      SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
             ${sqlSumFix("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_type IN ('PROMO', 'ECONOMY') AND year(l_shipdate) >= 1998
      GROUP BY n_name, o_year ORDER BY n_name, o_year""",

    "q17_small_qty_parts" -> s"""
      SELECT p_brand, count(*) AS n_small,
             ${sqlSumFix("l_extendedprice", 2)} AS small_revenue
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        AND ${sqlScaled("l_quantity", 2)} * 5 *
              (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
            < (SELECT sum(${sqlScaled("l2.l_quantity", 2)})
               FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      GROUP BY p_brand ORDER BY p_brand""",

    "q18_big_orders" -> s"""
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             ${sqlSumFix("l_quantity", 2)} AS total_qty
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(${sqlScaled("l_quantity", 2)}) > 25000)
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q2_min_shipper" -> """
      WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      SELECT p_partkey, p_brand, s_name, s_acctbal
      FROM part
      JOIN link ON p_partkey = link.l_partkey
      JOIN supplier ON s_suppkey = link.l_suppkey
      WHERE p_type = 'PROMO' AND p_size < 15
        AND s_acctbal = (
          SELECT min(s2.s_acctbal)
          FROM link l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
          WHERE l2.l_partkey = p_partkey)
      ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""",

    "q21_sole_returner" -> """
      SELECT s_name, count(*) AS numwait
      FROM lineitem l1
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN supplier ON s_suppkey = l1.l_suppkey
      WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 50""",

    "q15_top_supplier" -> s"""
      WITH rev AS (
        SELECT l_suppkey,
               sum(${sqlScaled("l_extendedprice * (1 - l_discount)", 4)}) AS rev4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate <  TIMESTAMP '1998-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, rev4 / 10000.0 AS total_revenue
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE rev4 = (SELECT max(rev4) FROM rev)
      ORDER BY s_suppkey""",

    "q22_idle_rich" -> s"""
      SELECT substr(c_name, length(c_name), 1) AS cty, count(*) AS n_cust,
             ${sqlSumFix("c_acctbal", 2)} AS total_bal
      FROM customer c
      WHERE substr(c_name, length(c_name), 1) IN ('1', '3', '5', '7')
        AND ${sqlScaled("c_acctbal", 2)} *
              (SELECT count(*) FROM customer c2 WHERE c2.c_acctbal > 0
               AND substr(c2.c_name, length(c2.c_name), 1) IN ('1', '3', '5', '7'))
            > (SELECT sum(${sqlScaled("c2.c_acctbal", 2)}) FROM customer c2
               WHERE c2.c_acctbal > 0
               AND substr(c2.c_name, length(c2.c_name), 1) IN ('1', '3', '5', '7'))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c.c_custkey
                          AND o_orderpriority = '1-URGENT')
      GROUP BY cty ORDER BY cty""",

    "q_broadcast_join" -> s"""
      SELECT r_name, n_name, count(*) AS n_customers,
             ${sqlAvgFix("c_acctbal", 2)} AS avg_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q_merge_join" -> s"""
      SELECT o_orderstatus, count(*) AS n_lines, ${sqlSumFix("l_quantity", 2)} AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_outer_join" -> s"""
      SELECT c_custkey, c_name,
             coalesce(n_orders, 0) AS n_orders, coalesce(spend, 0.0) AS spend
      FROM customer LEFT JOIN (
        SELECT o_custkey, count(*) AS n_orders, ${sqlSumFix("o_totalprice", 2)} AS spend
        FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
      ORDER BY c_custkey""",

    "q_semi_join" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      ORDER BY c_custkey""",

    "q_anti_join" -> """
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",

    "q_range_join" -> """
      SELECT p_brand, count(*) AS n, max(l_extendedprice) AS max_price
      FROM lineitem JOIN part ON l_partkey = p_partkey
        AND l_extendedprice > p_retailprice * 40
      GROUP BY p_brand ORDER BY p_brand""",

    "q_union" -> """
      SELECT * FROM (
        SELECT c_custkey AS k, 'hi_bal' AS tag FROM customer WHERE c_acctbal > 9000
        UNION ALL
        SELECT c_custkey AS k, 'building' AS tag FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 8000)
      ORDER BY k, tag""",

    "q_intersect" -> """
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      ORDER BY k""",

    "q_except" -> """
      SELECT c_custkey AS k FROM customer
      EXCEPT
      SELECT o_custkey AS k FROM orders
      ORDER BY k""",

    "q_distinct" -> """
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      ORDER BY o_orderstatus, o_orderpriority""",

    "q8_market_share" -> s"""
      SELECT year(o_orderdate) AS o_year,
             sum(CASE WHEN n_name = 'NATION_5'
                      THEN ${sqlScaled("l_extendedprice * (1 - l_discount)", 4)}
                      ELSE 0 END)
               / sum(${sqlScaled("l_extendedprice * (1 - l_discount)", 4)})
               AS mkt_share,
             sum(${sqlScaled("l_extendedprice * (1 - l_discount)", 4)}) / 10000.0
               AS total_volume
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_year ORDER BY o_year""",

    "q19_disjunctive_predicates" -> s"""
      SELECT p_type, count(*) AS n_lines,
             ${sqlSumFix("l_extendedprice * (1 - l_discount)", 4)} AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 15)
         OR (p_type = 'ECONOMY' AND p_size BETWEEN 10 AND 30
             AND l_quantity BETWEEN 10 AND 25)
         OR (p_type = 'STANDARD' AND p_size BETWEEN 20 AND 50
             AND l_quantity BETWEEN 20 AND 40)
      GROUP BY p_type ORDER BY p_type""",

    // Q11 shape: the scalar subquery stated verbatim — DuckDB decorrelates
    // it itself; the Spark side hand-writes the one-scan plan.
    "q11_important_stock" -> s"""
      SELECT l_partkey,
             sum(${sqlScaled("l_extendedprice", 2)} * ${sqlScaled("l_quantity", 2)})
               / 10000.0 AS stock_value
      FROM lineitem
      WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11'))
      GROUP BY l_partkey
      HAVING sum(${sqlScaled("l_extendedprice", 2)} * ${sqlScaled("l_quantity", 2)}) * 1000 > (
        SELECT sum(${sqlScaled("l_extendedprice", 2)} * ${sqlScaled("l_quantity", 2)})
        FROM lineitem
        WHERE l_suppkey IN (
          SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')))
      ORDER BY stock_value DESC, l_partkey""",

    // Q20 shape: IN over a grouped subquery whose HAVING carries a
    // correlated scalar subquery on the group key — two decorrelation
    // levels stated verbatim.
    "q20_dominant_suppliers" -> s"""
      SELECT s_suppkey, s_name FROM supplier
      WHERE s_suppkey IN (
        SELECT l1.l_suppkey FROM lineitem l1
        WHERE l1.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        GROUP BY l1.l_suppkey, l1.l_partkey
        HAVING 8 * sum(${sqlScaled("l1.l_quantity", 2)}) > (
          SELECT sum(${sqlScaled("l2.l_quantity", 2)}) FROM lineitem l2
          WHERE l2.l_partkey = l1.l_partkey))
      ORDER BY s_suppkey""",

    // Q4 shape: the correlated EXISTS (equi key + non-equi date conjunct)
    // stated verbatim — DuckDB decorrelates it its own way; the hash
    // compare proves both plans agree.
    "q4_order_priority" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-04-01'
        AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q6_forecast_revenue" -> s"""
      SELECT ${sqlSumFix("l_extendedprice * l_discount", 4)} AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""",

    "q10_returned_items" -> s"""
      SELECT c_custkey, c_name, c_acctbal, n_name,
             ${sqlSumFix("l_extendedprice * (1 - l_discount)", 4)} AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey  = o_orderkey
      JOIN customer ON o_custkey   = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-07-01'
        AND o_orderdate <  TIMESTAMP '1997-10-01'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""",

    "q12_priority_shipping" -> """
      SELECT l_returnflag,
             count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
               AS high_line_count,
             count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
               AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "q14_promo_share" -> s"""
      SELECT CAST(100 AS DOUBLE)
               * sum(CASE WHEN p_type = 'PROMO'
                     THEN ${sqlScaled("l_extendedprice * (1 - l_discount)", 4)}
                     ELSE 0 END)
               / sum(${sqlScaled("l_extendedprice * (1 - l_discount)", 4)})
               AS promo_revenue_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        AND l_shipdate <  TIMESTAMP '1997-10-01'""",

    "q16_supplier_variety" -> """
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      JOIN part ON l_partkey = p_partkey
      WHERE p_type <> 'PROMO'
        AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
}
