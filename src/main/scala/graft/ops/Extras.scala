package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact._

/** Gap-filling operator entries (VERDICT r1 §"What's missing" item 6):
  * shuffle-hash join, map functions, LIKE/IN predicate surface, and
  * csv/json source scans (round-tripped through real files so the non-
  * parquet readers are actually exercised).
  */
object Extras {
  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Shuffle-hash join: both sides hinted so the planner builds a hash map
    // per partition instead of sorting — the right plan when one side is
    // moderately sized per key and sort-merge's sort would dominate.
    "q_shuffle_hash_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").hint("shuffle_hash")
      val ord = t(s, dir, "orders").hint("shuffle_hash")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumFix(col("l_extendedprice"), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // Map functions: build a map column, then explode it and aggregate
    // keys — exercises map construction, explosion, and key-wise stats.
    "q_map_funcs" -> ((s, dir) =>
      t(s, dir, "events")
        .selectExpr("map('type', event_type, 'uid', CAST(user_id AS STRING)) AS m")
        .select(explode(col("m")).as(Seq("key", "value")))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"), countDistinct(col("value")).as("n_distinct"))
        .orderBy(col("key"))),

    // LIKE / IN / BETWEEN predicate surface, all pushable to the scan.
    "q_like_in" -> ((s, dir) =>
      t(s, dir, "part")
        .where(col("p_brand").like("Brand#1%") &&
          col("p_size").isin(1, 5, 9, 13) &&
          col("p_retailprice").between(500, 1500))
        .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
        .orderBy(col("p_partkey"))),

    // CSV source: write nation as csv, read it back through the csv reader
    // with an explicit schema, then a broadcast join to region.
    "q_csv_scan" -> { (s, dir) =>
      val dest = graft.sinks.Sinks.scratch("nation_csv")
      t(s, dir, "nation").write.option("header", "true").csv(dest)
      val nation = s.read.schema(Tables.nation).option("header", "true").csv(dest)
      nation.join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy(col("r_name"))
    },

    // JSON source: write supplier as json lines, read back with schema.
    "q_json_scan" -> { (s, dir) =>
      val dest = graft.sinks.Sinks.scratch("supplier_json")
      t(s, dir, "supplier").write.json(dest)
      s.read.schema(Tables.supplier).json(dest)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), sumFix(col("s_acctbal"), 2).as("bal"))
        .orderBy(col("s_nationkey"))
    },

    // ORC source/sink: columnar roundtrip through Spark's second native
    // columnar format (predicate pushdown + column pruning work the same
    // as parquet — the point is the format surface, not a new plan
    // shape). The pushed filter and pruned schema land in the OrcScan.
    "q_orc_scan" -> { (s, dir) =>
      val dest = graft.sinks.Sinks.scratch("orders_orc")
      t(s, dir, "orders").write.orc(dest)
      s.read.orc(dest)
        .where(col("o_orderstatus") =!= "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    },

    // Schema evolution: an old-schema batch (no o_totalprice column) and a
    // new-schema batch land in the same dataset; `mergeSchema` unions the
    // footers at read time and back-fills the missing column with NULL —
    // the standard contract for a long-lived 100 TB table whose producers
    // upgrade independently. Merge cost is O(files) footer metadata, not
    // data; the read plan is an ordinary pruned scan afterwards.
    "q_schema_evolution" -> { (s, dir) =>
      val dest = graft.sinks.Sinks.scratch("orders_evo")
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      base.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .write.parquet(s"$dest/old")
      base.where(col("o_orderkey") % 2 === 1)
        .write.parquet(s"$dest/new")
      s.read.option("mergeSchema", "true").parquet(s"$dest/old", s"$dest/new")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // Full outer join with non-overlapping key ranges on both sides.
    "q_full_outer_join" -> { (s, dir) =>
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 600)
        .select(col("c_custkey"), col("c_mktsegment"))
      val ords = t(s, dir, "orders")
        .where(col("o_custkey").between(400, 1000))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_orders"))
        .orderBy(col("custkey"))
    },

    // EXISTS / NOT EXISTS subqueries through the SQL parser path.
    "q_subquery_exists" -> { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n
        FROM orders_v o
        WHERE EXISTS (SELECT 1 FROM customer_v c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
          AND NOT EXISTS (SELECT 1 FROM customer_v c2
                          WHERE c2.c_custkey = o.o_custkey AND c2.c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // Scalar subquery threshold (exact max, so cross-engine deterministic).
    "q_subquery_scalar" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, count(*) AS n
        FROM orders_v
        WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders_v) * 0.5
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },

    // Manual salt-and-unsalt around a skewed join key: the salted key
    // spreads one hot key over 8 shuffle partitions; re-aggregation after
    // the join restores exact results. (AQE skew-join does this adaptively;
    // the explicit form is the portable 100 TB idiom.)
    "q_salted_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .withColumn("salt", (col("l_linenumber") % 8).cast("int"))
      val ords = t(s, dir, "orders")
        .crossJoin(s.range(8).select(col("id").cast("int").as("salt")))
      li.join(ords,
          col("l_orderkey") === col("o_orderkey") && li("salt") === ords("salt"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sumFix(col("l_extendedprice"), 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    },

    // Recursive CTE through the SQL parser (Spark 4 WITH RECURSIVE).
    "q_sql_recursive_cte" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        WITH RECURSIVE buckets(b) AS (
          SELECT 0 UNION ALL SELECT b + 1 FROM buckets WHERE b < 9)
        SELECT b, count(o_orderkey) AS n
        FROM buckets LEFT JOIN orders_v ON CAST(o_orderkey % 10 AS INT) = b
        GROUP BY b ORDER BY b""")
    },

    // Null-aware anti join (NOT IN semantics): NOT IN over a nullable
    // subquery column is NOT the same operator as NOT EXISTS/left_anti —
    // one NULL in the subquery empties the whole result under SQL
    // three-valued logic, so Spark must plan the null-aware variant
    // (BroadcastHashJoin ... NAAJ — asserted in PlanShapeSpec), which
    // checks the build side for nulls at runtime instead of assuming
    // two-valued equality. The anti-dedup shape ("orders from customers
    // NOT in the flagged set") is how exclusion lists are applied at
    // scale; broadcast build side, no shuffle of the probe.
    "q_null_aware_anti" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_naaj_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_naaj_v")
      s.sql("""
        SELECT o_orderstatus, count(*) AS n,
               count(DISTINCT o_custkey) AS n_cust
        FROM orders_naaj_v
        WHERE o_custkey NOT IN (
          SELECT c_custkey FROM customer_naaj_v WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },

    // Correlated LATERAL subquery join (SQL parser path): per region, the
    // top-2 nations by supplier account balance — the "top-N per outer
    // row" shape LATERAL exists for. Catalyst decorrelates it into a
    // ranked window + join, so the plan scales like any windowed top-k.
    "q_lateral_join" -> { (s, dir) =>
      t(s, dir, "region").createOrReplaceTempView("region_v")
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      t(s, dir, "supplier").createOrReplaceTempView("supplier_v")
      s.sql("""
        SELECT r.r_name, l.n_name, l.bal
        FROM region_v r,
        LATERAL (
          SELECT n.n_name, CAST(sum(floor(s.s_acctbal * 100 + 0.5)) AS BIGINT) AS bal
          FROM nation_v n JOIN supplier_v s ON s.s_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY bal DESC, n.n_name LIMIT 2) l
        ORDER BY r.r_name, l.bal DESC, l.n_name""")
    },

    // Aggregate FILTER clause: per-status order counts sliced by predicate
    // inside ONE aggregation pass (no self-joins, no CASE pyramids).
    "q_agg_filter_clause" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_vf")
      s.sql("""
        SELECT o_orderstatus,
               count(*) AS n,
               count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               CAST(sum(floor(o_totalprice * 100 + 0.5))
                 FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent_cents
        FROM orders_vf
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },

    // Unpivot/melt: wide metric columns to long (metric, value) rows.
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem").where(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))),

    // posexplode: element position travels with the exploded value.
    "q_posexplode" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .where(col("pos") < 3)
        .groupBy(col("pos"), col("col").as("word"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 5)
        .orderBy(col("pos"), col("word"))),

    // DataSource V2 scan (reference O1-O3 full fidelity): the custom
    // paginated commit source with ts>=bound pushed INTO the source —
    // earlier pages are never planned, mirroring the API-side `since`
    // parameter (git_etl.ts:63). The `dir` arg is unused: the source is
    // synthetic by design (zero-egress environment).
    "q_dsv2_source" -> { (s, _) =>
      s.read.format("graft.sources.CommitSource").option("rows", "5000").load()
        .where(col("ts") >= lit("2024-01-03 00:00:00").cast(org.apache.spark.sql.types.TimestampType))
        .groupBy(col("message"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts"),
          countDistinct(col("email")).as("n_authors"))
        .orderBy(col("message"))
    },

    // DataSource V2 WRITE (the sink half of O8: persist the batch —
    // git_etl.ts:127-132 — as Spark's two-phase commit): executor task
    // attempts stage uniquely-named files, the driver publishes exactly
    // the committed attempts' files behind an atomically-swapped
    // manifest (sources/KvStoreSink.scala). 4 writer partitions
    // exercise the commit fan-in; the read-back resolves THROUGH the
    // manifest, so staged/orphaned files can't leak into the answer.
    "q_dsv2_write" -> { (s, dir) =>
      val dest = graft.sinks.Sinks.scratch("dsv2_write_store")
      Tables.load(s, dir, "events")
        .selectExpr("event_id AS k", "event_type AS v",
          "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .repartition(4)
        .write.format("graft.sources.KvStoreSink").option("path", dest)
        .mode("append").save()
      val files = graft.sources.KvStoreSink.committedFiles(dest)
      s.read.schema(graft.sources.KvStoreSink.schema).json(files: _*)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("v"))
    },

    // Aggregate pushdown into the DSv2 source (SupportsPushDownAggregates,
    // COMPLETE pushdown): the grouped COUNT(*)/MIN(ts)/MAX(ts) is answered
    // by the source itself in closed form — the physical plan carries NO
    // aggregate operator and the scan emits 7 rows instead of 5000
    // (PlanShapeSpec asserts both). This is the remote-database shape: at
    // 100 TB the difference between shipping the corpus and shipping the
    // answer. countDistinct (q_dsv2_source) stays un-pushed on purpose —
    // the source only accepts what it can answer exactly.
    "q_dsv2_agg_pushdown" -> { (s, _) =>
      s.read.format("graft.sources.CommitSource").option("rows", "5000").load()
        .where(col("ts") >= lit("2024-01-03 00:00:00").cast(org.apache.spark.sql.types.TimestampType))
        .groupBy(col("message"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("min_ts"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("message"))
    },

    // Top-N pushdown into the DSv2 source (SupportsPushDownTopN, complete):
    // "the 5 newest commits since the watermark" — the reference's core
    // ask — becomes a 5-row index slice served by the source in DESC
    // order; Spark's Sort/TakeOrdered disappears from the plan
    // (PlanShapeSpec). Composes with the pushed `since` filter and column
    // pruning: the scan reads 5 rows and 3 columns of a 5000-row table.
    "q_dsv2_topn_pushdown" -> { (s, _) =>
      s.read.format("graft.sources.CommitSource").option("rows", "5000").load()
        .where(col("ts") >= lit("2024-01-03 00:00:00").cast(org.apache.spark.sql.types.TimestampType))
        .orderBy(col("ts").desc).limit(5)
        .select(col("sha"), col("ts"), col("message"))
        .orderBy(col("ts"))
    },

    // Runtime filtering (DPP) into the DSv2 source
    // (SupportsRuntimeFiltering on sha): the commit source is the probe
    // side of a join against a small dimension with a selective
    // predicate; after the dimension's broadcast materializes, Spark
    // hands its join-key values to the scan, which re-plans to only the
    // PAGES containing a candidate sha — 10 000 rows / 100 pages shrink
    // to <= 5 pages at execution time (CommitSourceSpec asserts the
    // replan; the oracle checks the join answer). The DSv2 mirror of
    // q_sink_dpp's parquet partition pruning, and at 100 TB the
    // difference between scanning the fact source and scanning the
    // handful of pages the dimension selects.
    "q_dsv2_runtime_prune" -> { (s, dir) =>
      val commits = s.read.format("graft.sources.CommitSource")
        .option("rows", "10000").load()
      val dim = t(s, dir, "nation").where(col("n_regionkey") === 1)
        .selectExpr(
          "concat('c', lpad(CAST(n_nationkey * 397 AS STRING), 8, '0')) AS sha",
          "n_name")
      commits.join(dim, "sha")
        .select(col("sha"), col("ts"), col("message"), col("n_name"))
        .orderBy(col("sha"))
    },

    // Binned range join: the scalable form of an interval join. Values are
    // binned in EXACT scaled cents (integer division — no float-boundary
    // ambiguity), bands align to bins, and the join becomes a hash
    // equi-join on bin + residual predicate: O(N) shuffle instead of the
    // theta-join's O(N x bands) comparisons. Same results as the naive
    // BETWEEN join by construction.
    "q_range_join_binned" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("sv"))
        .where(col("sv") >= 0 && col("sv") < 50000)
      val bands = s.range(20).select(col("id").as("band_id"),
        (col("id") * 2500).as("lo_c"), ((col("id") + 1) * 2500).as("hi_c"))
      ev.withColumn("bin", expr("sv div 2500"))
        .join(broadcast(bands), col("bin") === col("band_id") &&
          col("sv") >= col("lo_c") && col("sv") < col("hi_c"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"), (sum(col("sv")) / 100.0).as("sum_value"))
        .orderBy(col("band_id"))
    },

    // Bucketed co-located join: both sides bucketed+sorted on the key in
    // the warehouse; the join then needs NO shuffle exchange — at 100 TB
    // this is the difference between reading and re-shuffling the lake.
    "q_bucketed_join" -> { (s, dir) =>
      s.sql("DROP TABLE IF EXISTS orders_bkt")
      s.sql("DROP TABLE IF EXISTS customer_bkt")
      // a fresh session's in-memory catalog forgets the tables but their
      // warehouse directories persist — clear them or saveAsTable refuses
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      graft.sinks.Sinks.truncate(s"$wh/orders_bkt")
      graft.sinks.Sinks.truncate(s"$wh/customer_bkt")
      t(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_bkt")
      t(s, dir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_bkt")
      // merge-hinted so the plan shows the point: SMJ over co-bucketed
      // tables with NO shuffle exchange on either side (at test scale AQE
      // would otherwise broadcast and hide the bucketing)
      s.table("orders_bkt").hint("merge")
        .join(s.table("customer_bkt").hint("merge"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    })

  def oracleSql: Map[String, String] = Map(
    "q_shuffle_hash_join" -> s"""
      SELECT o_orderpriority, count(*) AS n,
             ${sqlSumFix("l_extendedprice", 2)} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_map_funcs" -> """
      SELECT 'type' AS key, count(*) AS n, count(DISTINCT event_type) AS n_distinct FROM events
      UNION ALL
      SELECT 'uid' AS key, count(*) AS n, count(DISTINCT CAST(user_id AS VARCHAR)) AS n_distinct FROM events
      ORDER BY key""",

    "q_like_in" -> """
      SELECT p_partkey, p_brand, p_size, p_retailprice
      FROM part
      WHERE p_brand LIKE 'Brand#1%' AND p_size IN (1, 5, 9, 13)
        AND p_retailprice BETWEEN 500 AND 1500
      ORDER BY p_partkey""",

    "q_csv_scan" -> """
      SELECT r_name, count(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""",

    "q_orc_scan" -> s"""
      SELECT o_orderpriority, count(*) AS n, ${sqlSumFix("o_totalprice", 2)} AS total
      FROM orders WHERE o_orderstatus <> 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_json_scan" -> s"""
      SELECT s_nationkey, count(*) AS n, ${sqlSumFix("s_acctbal", 2)} AS bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",

    // expected result of the merged-schema read: the old-schema half
    // surfaces NULL for the column it never wrote
    "q_schema_evolution" -> """
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice
      FROM orders ORDER BY o_orderkey""",

    "q_full_outer_join" -> """
      SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
             c.c_mktsegment, o.n_orders
      FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 600) c
      FULL OUTER JOIN (
        SELECT o_custkey, count(*) AS n_orders FROM orders
        WHERE o_custkey BETWEEN 400 AND 1000 GROUP BY o_custkey) o
        ON c.c_custkey = o.o_custkey
      ORDER BY custkey""",

    "q_subquery_exists" -> """
      SELECT o_orderpriority, count(*) AS n
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
        AND NOT EXISTS (SELECT 1 FROM customer c2
                        WHERE c2.c_custkey = o.o_custkey AND c2.c_mktsegment = 'BUILDING')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_subquery_scalar" -> """
      SELECT o_orderstatus, count(*) AS n
      FROM orders
      WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) * 0.5
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_salted_join" -> s"""
      SELECT o_orderstatus, count(*) AS n,
             ${sqlSumFix("l_extendedprice", 2)} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_bucketed_join" -> s"""
      SELECT c_mktsegment, count(*) AS n, ${sqlSumFix("o_totalprice", 2)} AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_lateral_join" -> """
      SELECT r.r_name, l.n_name, l.bal
      FROM region r,
      LATERAL (
        SELECT n.n_name, CAST(sum(floor(s.s_acctbal * 100 + 0.5)) AS BIGINT) AS bal
        FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY bal DESC, n.n_name LIMIT 2) l
      ORDER BY r.r_name, l.bal DESC, l.n_name""",

    "q_agg_filter_clause" -> """
      SELECT o_orderstatus,
             count(*) AS n,
             count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
             count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
             CAST(sum(floor(o_totalprice * 100 + 0.5))
               FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent_cents
      FROM orders
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_sql_recursive_cte" -> """
      WITH RECURSIVE buckets(b) AS (
        SELECT 0 UNION ALL SELECT b + 1 FROM buckets WHERE b < 9)
      SELECT b, count(o_orderkey) AS n
      FROM buckets LEFT JOIN orders ON CAST(o_orderkey % 10 AS INT) = b
      GROUP BY b ORDER BY b""",

    "q_unpivot" -> """
      SELECT l_orderkey, l_linenumber, metric, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      WHERE l_orderkey <= 200
      ORDER BY l_orderkey, l_linenumber, metric""",

    "q_posexplode" -> """
      SELECT pos, word, count(*) AS n FROM (
        SELECT doc_id, k AS pos, t[k + 1] AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             (SELECT unnest(range(3)) AS k)
        WHERE k < len(t))
      GROUP BY pos, word HAVING count(*) >= 5
      ORDER BY pos, word""",

    "q_dsv2_source" -> """
      WITH src AS (
        SELECT i,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * 137) AS ts,
               'u' || (i % 50) || '@x' AS email,
               'm' || (i % 7) AS message
        FROM (SELECT unnest(range(5000)) AS i))
      SELECT message, count(*) AS n, max(ts) AS max_ts,
             count(DISTINCT email) AS n_authors
      FROM src WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
      GROUP BY message ORDER BY message""",

    // the store round-trips the batch exactly, so the committed read-back
    // aggregates like the source table
    "q_dsv2_write" -> """
      SELECT event_type AS v, count(*) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events GROUP BY v ORDER BY v""",

    "q_dsv2_topn_pushdown" -> """
      WITH src AS (
        SELECT 'c' || lpad(CAST(i AS VARCHAR), 8, '0') AS sha,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * 137) AS ts,
               'm' || (i % 7) AS message
        FROM (SELECT unnest(range(5000)) AS i))
      SELECT * FROM (
        SELECT sha, ts, message FROM src
        WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
        ORDER BY ts DESC LIMIT 5) t
      ORDER BY ts""",

    "q_dsv2_agg_pushdown" -> """
      WITH src AS (
        SELECT i,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * 137) AS ts,
               'm' || (i % 7) AS message
        FROM (SELECT unnest(range(5000)) AS i))
      SELECT message, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts
      FROM src WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
      GROUP BY message ORDER BY message""",

    "q_null_aware_anti" -> """
      SELECT o_orderstatus, count(*) AS n,
             count(DISTINCT o_custkey) AS n_cust
      FROM orders
      WHERE o_custkey NOT IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_dsv2_runtime_prune" -> """
      WITH src AS (
        SELECT 'c' || lpad(CAST(i AS VARCHAR), 8, '0') AS sha,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * 137) AS ts,
               'm' || (i % 7) AS message
        FROM (SELECT unnest(range(10000)) AS i)),
      dim AS (
        SELECT 'c' || lpad(CAST(n_nationkey * 397 AS VARCHAR), 8, '0') AS sha,
               n_name
        FROM nation WHERE n_regionkey = 1)
      SELECT s.sha, s.ts, s.message, d.n_name
      FROM src s JOIN dim d USING (sha)
      ORDER BY s.sha""",

    "q_range_join_binned" -> """
      WITH e AS (
        SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS sv FROM events),
      b AS (SELECT unnest(range(20)) AS band_id)
      SELECT band_id, count(*) AS n,
             CAST(sum(sv) AS BIGINT) / 100.0 AS sum_value
      FROM e JOIN b ON sv >= band_id * 2500 AND sv < (band_id + 1) * 2500
      WHERE sv >= 0 AND sv < 50000
      GROUP BY band_id ORDER BY band_id""")
}
