package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact._

/** Behavioral analytics over the `events` stream table: ordered funnels and
  * cohort retention — the two query shapes every product-analytics user of
  * the reference's commit stream would ask next ("how many repos that saw a
  * first commit also saw a release?"). Generalizes the watermark max-agg
  * lineage (`git_etl.ts:141-153`): each funnel stage is a keyed min-ts
  * aggregate constrained by the previous stage's watermark.
  *
  * Scale shape (100 TB): every stage is a hash aggregate + equi-join on
  * `user_id` — the same shuffle key throughout, so Spark reuses the
  * exchange across stages (no re-partitioning between funnel steps), and
  * AQE picks broadcast when a stage's survivor set collapses. No windows
  * over the full corpus, no self-join of events against itself: each join's
  * left side is pre-filtered to ONE event type before shuffling.
  */
object Analytics {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Funnel stages, in order. `view -> click -> purchase` on the test
    * table; any ordered list of event types works. */
  private val FunnelSteps = Seq("view", "click", "purchase")

  /** Ordered-sequence funnel: a user converts at step k iff they have an
    * event of type k at-or-after their step-(k-1) conversion time. Each
    * stage = filter one type, join the previous stage's per-user
    * watermark, keep events past it, min-ts aggregate. Counts + percent
    * converted from step 1 (exact integer scaling — oracle-identical). */
  def funnel(e: DataFrame, steps: Seq[String]): DataFrame = {
    val stage1 = e.where(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val stages = steps.tail.scanLeft(stage1) { (prev, step) =>
      e.where(col("event_type") === step)
        .join(prev, "user_id")
        .where(col("ts") >= col("t"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    }
    val counts = stages.zip(steps.zipWithIndex).map {
      case (df, (name, i)) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("step"), lit(name).as("step_name"),
            col("n_users"))
    }.reduce(_ unionByName _)
    val base = counts.where(col("step") === 1)
      .select(col("n_users").as("n0"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("step_name"), col("n_users"),
        fix(col("n_users") * lit(100.0) / col("n0"), 2).as("conv_pct"))
      .orderBy(col("step"))
  }

  /** Conversion-window funnel: like [[funnel]], but every later step must
    * land within `hours` of the user's STEP-1 time (the fixed-anchor
    * conversion window every product funnel actually uses — an unbounded
    * funnel credits conversions that happen months later). The window
    * anchor `t1` rides through the per-user stage frames, so each stage
    * stays one keyed join + one hash agg. */
  def funnelWindowed(e: DataFrame, steps: Seq[String], hours: Int): DataFrame = {
    val stage1 = e.where(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      .withColumn("t1", col("t"))
    val stages = steps.tail.scanLeft(stage1) { (prev, step) =>
      e.where(col("event_type") === step)
        .join(prev, "user_id")
        .where(col("ts") >= col("t") &&
          col("ts") <= expr(s"t1 + INTERVAL $hours HOURS"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t"), min(col("t1")).as("t1"))
    }
    val counts = stages.zip(steps.zipWithIndex).map {
      case (df, (name, i)) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("step"), lit(name).as("step_name"),
            col("n_users"))
    }.reduce(_ unionByName _)
    val base = counts.where(col("step") === 1)
      .select(col("n_users").as("n0"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("step_name"), col("n_users"),
        fix(col("n_users") * lit(100.0) / col("n0"), 2).as("conv_pct"))
      .orderBy(col("step"))
  }

  /** Cohort retention: cohort = Monday of the user's first-event week;
    * cell (cohort, k) = distinct users of that cohort active in week
    * cohort+k, as a percentage of the cohort's size. Week offsets use
    * integer division of whole days between two week-truncated dates —
    * exact in both engines (never a float divide + cast, which rounds in
    * DuckDB but truncates in Spark; see PERF.md round-7 trap). */
  def cohortRetention(e: DataFrame): DataFrame = {
    val first = e.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort"))
    val cells = e.join(first, "user_id")
      .select(col("user_id"), col("cohort"),
        expr("datediff(date_trunc('week', ts), cohort) DIV 7").cast("int")
          .as("week_offset"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val base = cells.where(col("week_offset") === 0)
      .select(col("cohort"), col("n_active").as("cohort_size"))
    cells.join(base, "cohort")
      .select(col("cohort"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        fix(col("n_active") * lit(100.0) / col("cohort_size"), 2)
          .as("retention_pct"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  /** Sorted-neighborhood window: each record is a candidate against its
    * next [[ErWindow]] neighbors in a per-block sorted order. */
  val ErWindow = 10

  /** Candidate pairs for [[entityResolution]]: multi-pass sorted-
    * neighborhood blocking within each (nation, segment) block. Two
    * passes rank the block's names — pass 1 by the name itself, pass 2
    * by the REVERSED name — and each record pairs with its next
    * [[ErWindow]] neighbors in each ranking (union, de-duplicated).
    *
    * Why this scales where (nation, segment) alone does not: the
    * demographic key has FIXED cardinality (25 x 5 = 125 blocks
    * forever), so block size grows linearly with the table and candidate
    * pairs grow O(N^2/125) — a 100x scale-up is 10 000x the levenshtein
    * work. Sorted-neighborhood candidates are O(N * W) BY CONSTRUCTION
    * (each record pairs with <= 2W others, independent of N;
    * spec-asserted ~2x on a doubled fixture), and the rank join is an
    * equi-join on (block, rank) — never a per-block cross product.
    *
    * Recall is the standard multi-pass SNM argument: lexicographic
    * neighbors stay neighbors under subsetting, so names diverging only
    * late (typos near the end) are adjacent in pass 1 and names
    * diverging only early are adjacent in pass 2 — edits in the middle
    * of an otherwise-identical prefix/suffix are covered by both.
    * Window overflow (> W same-prefix records between a true pair) is
    * the documented heuristic gap every blocking scheme trades for
    * sub-quadratic candidates. */
  private[graft] def erCandidatePairs(c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = c.select(
      col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))

    def passPairs(sortKey: String): DataFrame = {
      val win = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
        .orderBy(expr(sortKey), col("c_custkey"))
      val ranked = base.withColumn("rn", row_number().over(win)).localCheckpoint()
      val left = ranked.select(col("c_nationkey").as("nk"),
        col("c_mktsegment").as("seg"), col("c_custkey").as("k_a"),
        col("c_name").as("n_a"), col("rn").as("rn_a"))
      val right = ranked.select(col("c_nationkey").as("nk"),
        col("c_mktsegment").as("seg"), col("c_custkey").as("k_b"),
        col("c_name").as("n_b"), col("rn").as("rn_t"))
      // each record meets its next W ranks via an equi-join on the rank
      left.withColumn("rn_t", explode(expr(s"sequence(rn_a + 1, rn_a + $ErWindow)")))
        .join(right, Seq("nk", "seg", "rn_t"))
        .select(least(col("k_a"), col("k_b")).as("doc_a"),
          greatest(col("k_a"), col("k_b")).as("doc_b"),
          when(col("k_a") < col("k_b"), col("n_a")).otherwise(col("n_b")).as("name_a"),
          when(col("k_a") < col("k_b"), col("n_b")).otherwise(col("n_a")).as("name_b"))
    }

    passPairs("c_name").unionByName(passPairs("reverse(c_name)")).distinct()
  }

  /** Blocked entity resolution over `customer`: candidate pairs come ONLY
    * from the blocked equi-join of [[erCandidatePairs]] — never a global
    * self-join — then fuzzy-verify with `levenshtein <= 2` on the name,
    * and transitively merge matches into entities via the shared
    * [[graft.llm.Dedup.connectedComponents]] fixpoint. Singletons keep
    * their own key. */
  def entityResolution(c: DataFrame): DataFrame = {
    // 3-arg bounded levenshtein: the banded DP bails out past the
    // threshold (returns -1), ~2x faster than the unbounded form on
    // non-matching pairs — the overwhelming majority inside every block.
    // Oracle-equivalent to `levenshtein(a, b) <= 2`.
    val pairs = erCandidatePairs(c)
      .where(expr("levenshtein(name_a, name_b, 2) IN (0, 1, 2)"))
      .select(col("doc_a"), col("doc_b"))
    // Default jumpAfter (8) — r15's jumpAfter=2 reverted (r16). THIS
    // consumer's graph IS known-deep (TPC-H names are sequential, so
    // levenshtein <= 2 chains consecutive names into per-block paths),
    // but measured on the fixture graph (18-deep chains), engagement at
    // 0/2/8 all converge in the SAME 12 rounds — warmup 1-hop progress
    // substitutes 1:1 for early doublings — so the early jump bought no
    // rounds and only added per-round labels⋈labels joins (3 warm passes
    // x {32, 8} cores: jumpAfter=8 4.1-4.6 s vs =2 4.6-5.1 s; the driver
    // measured the r15 regime at 2x r14). The deep-graph structural win
    // is unchanged: convergence is ~8 + log2(depth) rounds, spec-pinned
    // (LlmSpec "deep chain beats its diameter"). Fixpoint identical
    // either way (oracle-checked).
    val cc = graft.llm.Dedup.connectedComponents(pairs)
    c.select(col("c_custkey"))
      .join(cc, col("c_custkey") === col("doc_id"), "left")
      .select(col("c_custkey"),
        coalesce(col("canonical"), col("c_custkey")).as("entity"))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("entity"))))
      .orderBy(col("c_custkey"))
  }

  /** Time-series anomaly flags over daily event volume, in EXACT integer
    * arithmetic: day d is anomalous iff |x_d - mean| > 2*stddev, tested as
    * `(x*n - S)^2 > 4*(n*Q - S^2)` with S = sum(x), Q = sum(x^2) over the
    * full series — the z-score inequality cross-multiplied so neither
    * engine ever divides (float mean/variance would diverge across
    * engines and across partition orders at scale). Stats are one tiny
    * aggregate broadcast back over the daily series: two scans of an
    * already-aggregated O(days) table, never of raw events. */
  def anomalies(e: DataFrame): DataFrame = {
    val daily = e.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("q"))
    daily.crossJoin(broadcast(stats))
      .select(col("day"), col("x").as("n_events"),
        ((col("x") * col("n") - col("s")) * (col("x") * col("n") - col("s")) >
          lit(4L) * (col("n") * col("q") - col("s") * col("s"))).as("is_anomaly"))
      .orderBy(col("day"))
  }

  /** Robust anomaly detection on the daily event-count series: median /
    * MAD instead of mean / stddev — a single huge spike inflates the mean
    * AND the stddev enough to hide itself (and mask real outliers) from
    * the z-score detector; the median and MAD have a 50% breakdown point,
    * so the robust detector still sees it. All-integer arithmetic: with
    * m2 = the sum of the two middle sorted values (both engines pick them
    * by row_number), median = m2/2 exactly; dev2 = |2x − m2| = 2·|x−med|;
    * mad4 = the same two-middle sum over dev2 = 4·MAD; the |x−med| >
    * 3·MAD flag becomes 2·dev2 > 3·mad4 — no floats anywhere until the
    * reported columns. Scale shape: the series is a daily aggregate
    * (O(days) rows however big the event table), so the two median sorts
    * are tiny; the heavy lifting stays one hash aggregate over events. */
  def anomaliesMad(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = e.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // feeds both median passes and the output
    // m2 = x[(n+1)/2] + x[(n+2)/2] (1-based sorted ranks; equal for odd n)
    def twoMiddleSum(df: DataFrame, c: String): DataFrame = {
      val w = Window.orderBy(col(c), col("day"))
      df.withColumn("_rn", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
        .where(expr("_rn = (_n + 1) DIV 2 OR _rn = (_n + 2) DIV 2"))
        // odd n picks ONE middle row (the two ranks coincide): ×2/count
        // yields 2·mid there and a+b for even n — integer-valued in both
        // cases, so the double division casts back exactly
        .agg((sum(col(c)) * lit(2) / count(lit(1))).cast("long").as("m2"))
    }
    val med = daily.crossJoin(broadcast(twoMiddleSum(daily, "x")))
    val dev = med.withColumn("dev2", abs(col("x") * 2 - col("m2")))
    val mad = dev.crossJoin(broadcast(
      twoMiddleSum(dev.select(col("day"), col("dev2")), "dev2")
        .select(col("m2").as("mad4"))))
    mad.select(col("day"), col("x").as("n_events"),
        (col("m2").cast("double") / 2).as("median"),
        (col("mad4").cast("double") / 4).as("mad"),
        (col("dev2") * 2 > col("mad4") * 3).as("is_anomaly"))
      .orderBy(col("day"))
  }

  /** Distribution-drift detection (population stability index) between a
    * reference window (first half of the month) and a current window: bin
    * `value` into 10 fixed-width buckets, add-1-smooth the per-window
    * proportions, PSI = Σ (p-q)·ln(p/q). The log terms become scaled
    * longs BEFORE the total (the [[graft.util.Exact]] idiom), so the PSI
    * sum is partition-order-independent and oracle-exact. Scale shape:
    * two filtered scans collapse straight to 10-row aggregates; all the
    * arithmetic happens on the O(bins) table — this is the monitoring
    * query a 100 TB feed runs hourly, and it never shuffles raw events
    * (count aggregation is map-side partial). */
  def driftPsi(e: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // symmetric clamp: negative values land in edge bin 0 (not a negative
    // bin the 0..9 spine's left join would silently drop from both counts
    // AND the totals — the PSI must attribute every event to some bin)
    val binned = e.select(
      expr("greatest(0, least(9, CAST(floor(value / 50.0) AS INT)))").as("bin"), col("ts"))
    val cut = lit("2024-01-16").cast("timestamp")
    val refc = binned.where(col("ts") < cut)
      .groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
    val curc = binned.where(col("ts") >= cut)
      .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
    // dense bin spine: a window absent from one side still contributes
    // its smoothed term (that absence IS the drift signal)
    val bins = e.sparkSession.range(0, 10)
      .select(col("id").cast("int").as("bin"))
    val j = bins.join(refc, Seq("bin"), "left").join(curc, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = j.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    j.crossJoin(broadcast(tot))
      .withColumn("pr", (col("n_ref") + lit(1)).cast("double") / (col("tr") + lit(10)))
      .withColumn("pc", (col("n_cur") + lit(1)).cast("double") / (col("tc") + lit(10)))
      .withColumn("t6", scaled((col("pr") - col("pc")) * log(col("pr") / col("pc")), 6))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        (col("t6").cast("double") / lit(1000000.0)).as("psi_term"),
        (sum(col("t6")).over(W.partitionBy(lit(1))).cast("double") / lit(1000000.0)).as("psi"))
      .orderBy(col("bin"))
  }

  /** Shuffle-partition count modeled by the skew audit (a config knob of
    * the audited job, not of this query). */
  val SkewParts = 8L

  /** Pre-flight shuffle-skew audit: before running a big join/agg keyed
    * on `k`, profile what each shuffle partition would receive — row
    * count, distinct keys, the single heaviest key and its mass, and a
    * flag when the partition exceeds 2× the mean (the salting decision
    * threshold). Two keys are profiled side by side: `user_id` (high
    * cardinality — loads spread) and `event_type` (low cardinality — a
    * handful of hot keys pin whole partitions, the classic
    * salt-or-broadcast case). Partition id is the avalanche charhash mod
    * [[SkewParts]] in BOTH engines, so the audit is engine-portable.
    * Cost: ONE hash agg on (key_col, part, k) — strictly cheaper than
    * the join being audited (production runs it on a sample); output is
    * O(SkewParts). The flag is exact integer arithmetic
    * (n_rows · parts > 2 · total). */
  def skewAudit(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = e.selectExpr("'user_id' AS key_col", "CAST(user_id AS STRING) AS k")
      .union(e.selectExpr("'event_type' AS key_col", "event_type AS k"))
      .selectExpr("key_col", "k", s"graft_charhash(k) % $SkewParts AS part")
    val kc = keyed.groupBy(col("key_col"), col("part"), col("k"))
      .agg(count(lit(1)).as("kn"))
      .localCheckpoint() // feeds the partition rollup AND the top-key window
    val parts = kc.groupBy(col("key_col"), col("part"))
      .agg(sum(col("kn")).as("n_rows"), count(lit(1)).as("n_keys"))
    val top = kc.withColumn("rn", row_number().over(
        Window.partitionBy(col("key_col"), col("part"))
          .orderBy(col("kn").desc, col("k"))))
      .where(col("rn") === 1)
      .select(col("key_col"), col("part"), col("k").as("top_key"),
        col("kn").as("top_key_rows"))
    val tot = parts.groupBy(col("key_col")).agg(sum(col("n_rows")).as("total"))
    parts.join(top, Seq("key_col", "part")).join(broadcast(tot), Seq("key_col"))
      .selectExpr("key_col", "part", "n_rows", "n_keys", "top_key",
        "top_key_rows",
        s"CASE WHEN n_rows * $SkewParts > total * 2 THEN 1 ELSE 0 END AS skew_flag")
      .orderBy(col("key_col"), col("part"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-entity EWMA smoothing (alpha = 1/2) as an EXACT integer fold:
    // e_1 = s_1, e_i = (e_{i-1} + s_i) DIV 2 over each user's
    // time-ordered scaled-cent values. A float EWMA can't be
    // oracle-compared (summation-order-sensitive) and a window function
    // can't express the recursion; the per-user ordered fold can — and it
    // is the same bounded-entity-history contract as session windows:
    // hash-partition by user, per-user array bounded by that entity's
    // event count, never a corpus-wide structure. The fold runs as an
    // `aggregate` HOF over the collected sequence (interpreted, but
    // O(events-per-user) on a 1500-group analytic — not a corpus hot
    // path); DuckDB's list_reduce seeds from the first element exactly
    // like aggregate(slice(seq, 2, n-1), seq[1].cents, ...).
    // Time-weighted average over an IRREGULAR sample series — the metric
    // plain avg() gets wrong whenever sampling is bursty (a value held
    // for 3 days must weigh 3 days, not 1 row). Per user: each value
    // holds from its event to the next (step interpolation), weight =
    // whole seconds held; last observation holds nothing (no next
    // boundary). All-integer accumulation (cents × seconds as longs,
    // one division at the end), so partition order can't perturb the
    // result — and seconds (not μs) keep cents×weight far from Long
    // overflow at a 30-day span. One lead() window + one hash agg.
    "q_time_weighted_avg" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          graft.util.Exact.scaled(col("value"), 2).as("cents"))
        .withColumn("nts", lead(col("ts"), 1).over(w))
        .where(col("nts").isNotNull)
        .withColumn("dsec",
          expr("(unix_micros(nts) - unix_micros(ts)) div 1000000"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dsec")).as("held_secs"),
          (sum(col("cents") * col("dsec")) / sum(col("dsec")) / lit(100.0))
            .as("twap"))
        .orderBy(col("user_id"))
    },

    "q_ewma_smooth" -> { (s, dir) =>
      ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          graft.util.Exact.scaled(col("value"), 2).as("cents"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("array_sort(collect_list(struct(ts, event_id, cents)))").as("seq"))
        .selectExpr("user_id", "n_events",
          "element_at(seq, -1).cents AS last_cents",
          "aggregate(slice(seq, 2, CAST(n_events AS INT) - 1), " +
            "element_at(seq, 1).cents, (acc, x) -> (acc + x.cents) DIV 2) AS ewma_cents")
        .select(col("user_id"), col("n_events"),
          (col("last_cents") / 100.0).as("last_value"),
          (col("ewma_cents") / 100.0).as("ewma"))
        .orderBy(col("user_id"))
    },

    "q_skew_audit" -> ((s, dir) => skewAudit(ev(s, dir))),
    "q_drift_psi" -> ((s, dir) => driftPsi(ev(s, dir))),
    "q_anomaly_zscore" -> ((s, dir) => anomalies(ev(s, dir))),
    "q_anomaly_mad" -> ((s, dir) => anomaliesMad(ev(s, dir))),
    "q_funnel" -> ((s, dir) => funnel(ev(s, dir), FunnelSteps)),
    "q_funnel_windowed" -> ((s, dir) => funnelWindowed(ev(s, dir), FunnelSteps, 72)),

    // Seasonal (day-of-week) anomaly baseline: each day's event volume
    // vs the LEAVE-ONE-OUT mean of the same weekday's other days — the
    // seasonality-aware sibling of q_anomaly_zscore (a quiet Sunday is
    // normal; the same volume on a Tuesday is an outage). Leave-one-out
    // keeps a spike from inflating its own baseline. All comparisons are
    // cross-multiplied integers (n·(cnt−1)·10 vs 13·Σothers /
    // 7·Σothers): no divisions, no floats, bit-stable at any partition
    // count. ISO weekday via weekday()+1 == DuckDB isodow — the engines'
    // dayofweek() origins differ, so the portable form is explicit.
    "q_anomaly_seasonal" -> { (s, dir) =>
      val days = ev(s, dir)
        .selectExpr("CAST(ts AS DATE) AS d")
        .groupBy(col("d")).agg(count(lit(1)).as("n"))
        .withColumn("dow", expr("weekday(d) + 1"))
      val dow = days.groupBy(col("dow"))
        .agg(count(lit(1)).as("cnt"), sum(col("n")).as("sn"))
      days.join(dow, "dow")
        .selectExpr("d", "dow", "n", "cnt - 1 AS n_peers", "sn - n AS peer_sum")
        .selectExpr("d", "dow", "n", "n_peers", "peer_sum",
          "CASE WHEN peer_sum > 0 THEN n * n_peers * 1000000 DIV peer_sum " +
            "ELSE CAST(0 AS BIGINT) END AS ratio_ppm",
          "CASE WHEN n_peers = 0 THEN 'no_baseline' " +
            "WHEN n * n_peers * 10 > 13 * peer_sum THEN 'high' " +
            "WHEN n * n_peers * 10 < 7 * peer_sum THEN 'low' " +
            "ELSE 'normal' END AS verdict")
        .orderBy(col("d"))
    },
    // Last-touch attribution: every purchase attributed to the latest
    // preceding click by the same user within a 7-day lookback — the
    // marketing-attribution join. Shape: ONE per-user event timeline
    // with a forward-carried "last click so far" window (the ffill
    // pattern — max over the preceding frame), then a per-purchase
    // window test; linear, no range join, no per-purchase subquery.
    // Ties at the same timestamp resolve by event_id in the ORDER BY.
    "q_attribution_last_touch" -> { (s, dir) =>
      val e = ev(s, dir).where(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_click_ts",
          max(when(col("event_type") === "click", col("ts"))).over(w))
        .where(col("event_type") === "purchase")
        .selectExpr("user_id", "event_id AS purchase_id", "ts AS purchase_ts",
          "CASE WHEN last_click_ts IS NOT NULL AND " +
            "last_click_ts >= ts - INTERVAL 7 DAYS THEN last_click_ts END " +
            "AS attributed_click_ts")
        .selectExpr("user_id", "purchase_id", "purchase_ts",
          "attributed_click_ts",
          "CASE WHEN attributed_click_ts IS NULL THEN 'organic' " +
            "ELSE 'attributed' END AS attribution",
          // exact microsecond subtraction, then integer seconds — a
          // date_diff('second') would count boundary crossings instead
          "CASE WHEN attributed_click_ts IS NULL THEN CAST(NULL AS BIGINT) " +
            "ELSE (unix_micros(CAST(purchase_ts AS TIMESTAMP)) - " +
            "unix_micros(CAST(attributed_click_ts AS TIMESTAMP))) " +
            "DIV 1000000 END AS lag_seconds")
        .orderBy(col("purchase_id"))
    },

    // Event-transition matrix: for each user's time-ordered event
    // sequence, count (event_type -> next event_type) transitions and
    // their share of the source type's outgoing mass — the Markov-chain
    // view of product flows (which screens lead where; the input to
    // next-step prediction and funnel DESIGN, where q_funnel measures a
    // funnel already chosen). One lead() window over per-user
    // partitions + one hash agg; ppm shares in exact integers.
    "q_event_transitions" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wsrc = Window.partitionBy(col("from_type"))
      ev(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("from_total", sum(col("n")).over(wsrc))
        .selectExpr("from_type", "to_type", "n",
          "n * 1000000 DIV from_total AS share_ppm")
        .orderBy(col("from_type"), col("to_type"))
    },

    // Rolling active users: per day, the exact distinct-user count for
    // the day (DAU) and the trailing 7-day window (WAU), plus the
    // DAU/WAU stickiness ratio — the engagement report every product
    // pipeline ships. Exact sliding DISTINCT doesn't fold into a window
    // aggregate (distinct isn't subtractable), so the honest shape is:
    // contract events to (user, day) ONCE (the only corpus-sized agg),
    // then EXPLODE each row into the 7 window-ends it contributes to and
    // re-distinct — a bounded 7× fan-out of the already-contracted
    // table, never of raw events, and never a range join. (The
    // approximate path at extreme scale
    // is per-day HLL sketch union — q_agg_sketch_lifecycle — traded
    // here for exactness.)
    "q_rolling_active_users" -> { (s, dir) =>
      val ud = ev(s, dir)
        .selectExpr("user_id", "CAST(ts AS DATE) AS d").distinct()
        .localCheckpoint() // feeds the spine, DAU, and the window fan-out
      val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
      // each (user, day) contributes to the 7 window-ends d..d+6: a pure
      // bounded-fan-out projection (no range join); window-ends past the
      // observed calendar are dropped by the spine semi join
      val wau = ud
        .selectExpr("user_id", "explode(sequence(d, date_add(d, 6))) AS d")
        .distinct()
        .join(ud.select(col("d")).distinct(), Seq("d"), "left_semi")
        .groupBy(col("d")).agg(count(lit(1)).as("wau"))
      dau.join(wau, "d")
        .selectExpr("d", "dau", "wau", "dau * 1000000 DIV wau AS stickiness_ppm")
        .orderBy(col("d"))
    },

    // k-anonymity / l-diversity privacy audit: group the customer table
    // by its quasi-identifier tuple (nation, segment, coarse balance
    // band) and flag equivalence classes smaller than k = 5 — each such
    // row is re-identifiable by an attacker who knows the QI values —
    // plus the class's distinct-sensitive-value count (l-diversity on
    // the balance cents: a class where everyone shares one sensitive
    // value leaks it even at k-anonymous size). One hash aggregation;
    // the release/no-release verdict is pure integer comparison.
    "q_privacy_kanon" -> { (s, dir) =>
      Tables.load(s, dir, "customer")
        .selectExpr("c_nationkey", "c_mktsegment",
          "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band",
          "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents")
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("cents")).as("l_distinct"))
        .selectExpr("c_nationkey", "c_mktsegment", "bal_band", "class_size",
          "l_distinct",
          "CASE WHEN class_size < 5 THEN 'reidentifiable' " +
            "WHEN l_distinct < 2 THEN 'homogeneous' ELSE 'ok' END AS verdict")
        .orderBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
    },
    "q_cohort_retention" -> ((s, dir) => cohortRetention(ev(s, dir))),
    "q_entity_resolution" -> ((s, dir) =>
      entityResolution(Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment")))))

  def oracleSql: Map[String, String] = Map(

    // mirror of q_ewma_smooth: list_reduce seeds from the first element,
    // exactly aggregate(slice(seq, 2, n-1), seq[1], ...) on the Spark side
    // step interpolation: each value holds until the next sample; whole
    // seconds as exact integer weights, one division at the end
    "q_time_weighted_avg" -> s"""
      WITH e AS (
        SELECT user_id, ts, event_id, ${graft.util.Exact.sqlScaled("value", 2)} AS cents,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
        FROM events),
      iv AS (
        SELECT user_id, cents,
               (epoch_us(nts) - epoch_us(ts)) // 1000000 AS dsec
        FROM e WHERE nts IS NOT NULL)
      SELECT user_id, count(*) AS n_intervals,
             CAST(sum(dsec) AS BIGINT) AS held_secs,
             sum(cents * dsec) / sum(dsec) / 100.0 AS twap
      FROM iv GROUP BY user_id ORDER BY user_id""",

    "q_ewma_smooth" -> s"""
      WITH e AS (
        SELECT user_id, ts, event_id,
               ${graft.util.Exact.sqlScaled("value", 2)} AS cents
        FROM events),
      g AS (
        SELECT user_id, count(*) AS n_events,
               list(cents ORDER BY ts, event_id) AS seq
        FROM e GROUP BY user_id)
      SELECT user_id, n_events,
             seq[-1] / 100.0 AS last_value,
             list_reduce(seq, (acc, x) -> (acc + x) // 2) / 100.0 AS ewma
      FROM g ORDER BY user_id""",

    "q_skew_audit" -> s"""
      WITH keyed AS (
        SELECT 'user_id' AS key_col, CAST(user_id AS VARCHAR) AS k FROM events
        UNION ALL
        SELECT 'event_type' AS key_col, event_type AS k FROM events),
      hashed AS (
        SELECT key_col, k,
               ${graft.llm.XHash.duckCharHash("k")} % ${SkewParts} AS part
        FROM keyed),
      kc AS (
        SELECT key_col, part, k, count(*) AS kn
        FROM hashed GROUP BY key_col, part, k),
      parts AS (
        SELECT key_col, part, CAST(sum(kn) AS BIGINT) AS n_rows,
               count(*) AS n_keys
        FROM kc GROUP BY key_col, part),
      top AS (
        SELECT key_col, part, k AS top_key, kn AS top_key_rows FROM (
          SELECT key_col, part, k, kn,
                 row_number() OVER (PARTITION BY key_col, part
                   ORDER BY kn DESC, k) AS rn
          FROM kc) z WHERE rn = 1),
      tot AS (
        SELECT key_col, CAST(sum(n_rows) AS BIGINT) AS total
        FROM parts GROUP BY key_col)
      SELECT p.key_col, p.part, p.n_rows, p.n_keys, t.top_key,
             CAST(t.top_key_rows AS BIGINT) AS top_key_rows,
             CASE WHEN p.n_rows * ${SkewParts} > tt.total * 2
                  THEN 1 ELSE 0 END AS skew_flag
      FROM parts p JOIN top t USING (key_col, part)
      JOIN tot tt USING (key_col)
      ORDER BY p.key_col, p.part""",

    // identical bin edges, identical smoothing, ln-term scaled to longs
    // before the total (ulp-safe at 6 decimals — the lm_score pattern)
    "q_drift_psi" -> s"""
      WITH binned AS (
        SELECT greatest(0, least(9, CAST(floor(value / 50.0) AS INT))) AS bin, ts FROM events),
      refc AS (
        SELECT bin, count(*) AS n_ref FROM binned
        WHERE ts < TIMESTAMP '2024-01-16' GROUP BY bin),
      curc AS (
        SELECT bin, count(*) AS n_cur FROM binned
        WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY bin),
      bins AS (SELECT unnest(range(0, 10)) AS bin),
      j AS (
        SELECT CAST(b.bin AS INT) AS bin,
               CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
               CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
        FROM bins b LEFT JOIN refc ON b.bin = refc.bin
                    LEFT JOIN curc ON b.bin = curc.bin),
      tot AS (
        SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc FROM j),
      terms AS (
        SELECT bin, n_ref, n_cur,
               CAST(n_ref + 1 AS DOUBLE) / (tr + 10) AS pr,
               CAST(n_cur + 1 AS DOUBLE) / (tc + 10) AS pc
        FROM j, tot),
      t AS (
        SELECT bin, n_ref, n_cur,
               ${sqlScaled("(pr - pc) * ln(pr / pc)", 6)} AS t6
        FROM terms)
      SELECT bin, n_ref, n_cur,
             CAST(t6 AS DOUBLE) / 1000000.0 AS psi_term,
             CAST(sum(t6) OVER () AS DOUBLE) / 1000000.0 AS psi
      FROM t ORDER BY bin""",

    // HUGEINT intermediates are fine — only the boolean leaves the CTE,
    // and the values are small enough that BIGINT (Spark) and INT128
    // (DuckDB) agree exactly
    "q_anomaly_zscore" -> """
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS x
        FROM events GROUP BY 1),
      st AS (SELECT count(*) AS n, sum(x) AS s, sum(x*x) AS q FROM daily)
      SELECT day, CAST(x AS BIGINT) AS n_events,
             (x*n - s)*(x*n - s) > 4*(n*q - s*s) AS is_anomaly
      FROM daily, st ORDER BY day""",

    // mirror of anomaliesMad: identical two-middle-rank medians, the same
    // all-integer 2·dev2 > 3·mad4 flag
    "q_anomaly_mad" -> """
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS x
        FROM events GROUP BY 1),
      r AS (
        SELECT day, x, row_number() OVER (ORDER BY x, day) AS rn,
               count(*) OVER () AS n
        FROM daily),
      m AS (
        SELECT CAST(sum(x) * 2 / count(*) AS BIGINT) AS m2
        FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2),
      d AS (SELECT day, x, abs(x * 2 - m2) AS dev2, m2 FROM daily, m),
      r2 AS (
        SELECT day, dev2, row_number() OVER (ORDER BY dev2, day) AS rn,
               count(*) OVER () AS n
        FROM d),
      m4 AS (
        SELECT CAST(sum(dev2) * 2 / count(*) AS BIGINT) AS mad4
        FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2)
      SELECT day, CAST(x AS BIGINT) AS n_events,
             CAST(m2 AS DOUBLE) / 2 AS median,
             CAST(mad4 AS DOUBLE) / 4 AS mad,
             dev2 * 2 > mad4 * 3 AS is_anomaly
      FROM d, m4 ORDER BY day""",

    "q_funnel" -> {
      val s1 =
        s"""SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id"""
      val stageCtes = FunnelSteps.tail.zipWithIndex.map { case (step, i) =>
        s"""s${i + 2} AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s${i + 1} ON e.user_id = s${i + 1}.user_id
              WHERE e.event_type = '$step' AND e.ts >= s${i + 1}.t
              GROUP BY e.user_id)"""
      }.mkString(",\n          ")
      val unions = FunnelSteps.zipWithIndex.map { case (name, i) =>
        s"SELECT ${i + 1} AS step, '$name' AS step_name, count(*) AS n_users FROM s${i + 1}"
      }.mkString("\n          UNION ALL ")
      s"""
      WITH s1 AS ($s1),
          $stageCtes,
          counts AS ($unions),
          base AS (SELECT n_users AS n0 FROM counts WHERE step = 1)
      SELECT step, step_name, n_users,
             ${sqlFix("n_users * 100.0 / n0", 2)} AS conv_pct
      FROM counts, base ORDER BY step"""
    },

    // mirror of q_funnel_windowed: the q_funnel CTE chain with the t1
    // anchor carried through each stage and the 72h window predicate
    "q_funnel_windowed" -> {
      val s1 =
        s"""SELECT user_id, min(ts) AS t, min(ts) AS t1 FROM events
            WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id"""
      val stageCtes = FunnelSteps.tail.zipWithIndex.map { case (step, i) =>
        s"""s${i + 2} AS (
              SELECT e.user_id, min(e.ts) AS t, min(s${i + 1}.t1) AS t1
              FROM events e JOIN s${i + 1} ON e.user_id = s${i + 1}.user_id
              WHERE e.event_type = '$step' AND e.ts >= s${i + 1}.t
                AND e.ts <= s${i + 1}.t1 + INTERVAL 72 HOURS
              GROUP BY e.user_id)"""
      }.mkString(",\n          ")
      val unions = FunnelSteps.zipWithIndex.map { case (name, i) =>
        s"SELECT ${i + 1} AS step, '$name' AS step_name, count(*) AS n_users FROM s${i + 1}"
      }.mkString("\n          UNION ALL ")
      s"""
      WITH s1 AS ($s1),
          $stageCtes,
          counts AS ($unions),
          base AS (SELECT n_users AS n0 FROM counts WHERE step = 1)
      SELECT step, step_name, n_users,
             ${sqlFix("n_users * 100.0 / n0", 2)} AS conv_pct
      FROM counts, base ORDER BY step"""
    },

    "q_entity_resolution" -> s"""
      WITH RECURSIVE cust AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer),
      ranked AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
               row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
                                  ORDER BY c_name, c_custkey) AS rn1,
               row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
                                  ORDER BY reverse(c_name), c_custkey) AS rn2
        FROM cust),
      pairs AS (
        SELECT DISTINCT least(a.c_custkey, b.c_custkey) AS pa,
                        greatest(a.c_custkey, b.c_custkey) AS pb
        FROM ranked a JOIN ranked b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND (b.rn1 BETWEEN a.rn1 + 1 AND a.rn1 + ${Analytics.ErWindow}
           OR b.rn2 BETWEEN a.rn2 + 1 AND a.rn2 + ${Analytics.ErWindow})
         AND levenshtein(a.c_name, b.c_name) <= 2),
      edges AS (
        SELECT pa AS a, pb AS b FROM pairs
        UNION SELECT pb, pa FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      canon AS (
        SELECT a AS k, least(a, min(b)) AS canonical FROM reach GROUP BY a),
      ent AS (
        SELECT c.c_custkey,
               COALESCE(canon.canonical, c.c_custkey) AS entity
        FROM cust c LEFT JOIN canon ON canon.k = c.c_custkey)
      SELECT c_custkey, entity,
             count(*) OVER (PARTITION BY entity) AS n_members
      FROM ent ORDER BY c_custkey""",

    // mirror of q_attribution_last_touch: same carry-forward window and
    // lookback test; epoch_us == Spark unix_micros
    "q_attribution_last_touch" -> """
      WITH e AS (
        SELECT user_id, event_id, ts, event_type FROM events
        WHERE event_type IN ('click', 'purchase')),
      c AS (
        SELECT *, max(CASE WHEN event_type = 'click' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS last_click_ts
        FROM e),
      p AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
               CASE WHEN last_click_ts IS NOT NULL
                     AND last_click_ts >= ts - INTERVAL 7 DAY
                    THEN last_click_ts END AS attributed_click_ts
        FROM c WHERE event_type = 'purchase')
      SELECT user_id, purchase_id, purchase_ts, attributed_click_ts,
             CASE WHEN attributed_click_ts IS NULL THEN 'organic'
                  ELSE 'attributed' END AS attribution,
             CASE WHEN attributed_click_ts IS NULL THEN CAST(NULL AS BIGINT)
                  ELSE (epoch_us(purchase_ts) - epoch_us(attributed_click_ts))
                       // 1000000 END AS lag_seconds
      FROM p ORDER BY purchase_id""",

    // mirror of q_event_transitions: same lead() pairs and ppm shares
    "q_event_transitions" -> """
      WITH nx AS (
        SELECT event_type AS from_type,
               lead(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS to_type
        FROM events),
      t AS (
        SELECT from_type, to_type, count(*) AS n
        FROM nx WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type),
      tt AS (
        SELECT from_type, to_type, n,
               CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS from_total
        FROM t)
      SELECT from_type, to_type, n, n * 1000000 // from_total AS share_ppm
      FROM tt ORDER BY from_type, to_type""",

    // mirror of q_rolling_active_users: same contract-then-fan-out shape;
    // generate_series(d, d+6) == Spark sequence(d, date_add(d, 6))
    "q_rolling_active_users" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d),
      spine AS (SELECT DISTINCT d FROM ud),
      wexp AS (
        SELECT DISTINCT user_id, CAST(wd AS DATE) AS d FROM (
          SELECT user_id,
                 unnest(generate_series(CAST(d AS TIMESTAMP),
                   CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
                   INTERVAL 1 DAY)) AS wd
          FROM ud)),
      wau AS (
        SELECT w.d, count(*) AS wau
        FROM wexp w JOIN spine USING (d) GROUP BY w.d)
      SELECT d, dau, wau, dau * 1000000 // wau AS stickiness_ppm
      FROM dau JOIN wau USING (d) ORDER BY d""",

    // mirror of q_privacy_kanon: identical QI tuple, band, cents, and
    // integer verdict boundaries
    "q_privacy_kanon" -> """
      WITH q AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        FROM customer),
      g AS (
        SELECT c_nationkey, c_mktsegment, bal_band,
               count(*) AS class_size,
               count(DISTINCT cents) AS l_distinct
        FROM q GROUP BY 1, 2, 3)
      SELECT c_nationkey, c_mktsegment, bal_band, class_size, l_distinct,
             CASE WHEN class_size < 5 THEN 'reidentifiable'
                  WHEN l_distinct < 2 THEN 'homogeneous'
                  ELSE 'ok' END AS verdict
      FROM g ORDER BY c_nationkey, c_mktsegment, bal_band""",

    // mirror of q_anomaly_seasonal: isodow == Spark weekday()+1, same
    // leave-one-out integer comparisons
    "q_anomaly_seasonal" -> """
      WITH days AS (
        SELECT CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY 1),
      dw AS (SELECT d, CAST(isodow(d) AS INT) AS dow, n FROM days),
      tot AS (
        SELECT dow, count(*) AS cnt, CAST(sum(n) AS BIGINT) AS sn
        FROM dw GROUP BY dow),
      j AS (
        SELECT d, dw.dow, n, cnt - 1 AS n_peers, sn - n AS peer_sum
        FROM dw JOIN tot ON dw.dow = tot.dow)
      SELECT d, dow, n, n_peers, peer_sum,
             CASE WHEN peer_sum > 0 THEN n * n_peers * 1000000 // peer_sum
                  ELSE CAST(0 AS BIGINT) END AS ratio_ppm,
             CASE WHEN n_peers = 0 THEN 'no_baseline'
                  WHEN n * n_peers * 10 > 13 * peer_sum THEN 'high'
                  WHEN n * n_peers * 10 < 7 * peer_sum THEN 'low'
                  ELSE 'normal' END AS verdict
      FROM j ORDER BY d""",

    "q_cohort_retention" -> s"""
      WITH first AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        FROM events GROUP BY user_id),
      cells AS (
        SELECT cohort,
               CAST(date_diff('day', cohort,
                 CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT) AS week_offset,
               count(DISTINCT e.user_id) AS n_active
        FROM events e JOIN first ON e.user_id = first.user_id
        GROUP BY cohort, week_offset),
      base AS (
        SELECT cohort, n_active AS cohort_size FROM cells WHERE week_offset = 0)
      SELECT c.cohort, c.week_offset, c.n_active, b.cohort_size,
             ${sqlFix("c.n_active * 100.0 / b.cohort_size", 2)} AS retention_pct
      FROM cells c JOIN base b ON c.cohort = b.cohort
      ORDER BY c.cohort, c.week_offset""")
}
