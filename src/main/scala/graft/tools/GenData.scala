package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor data generator for the SCALE-PROOF runs
  * (`PERF.md` §scale): the driver fixtures stop at sf0.1, so measuring
  * how the heavy query families actually scale needs bigger inputs. The
  * driver's generator isn't available; this one reproduces the SAME
  * schemas and the same value distributions/ranges (read from the sf0.01
  * footers + profiled with DuckDB: vocab, lang mix, date ranges, key
  * ratios, embedding range — see FIXTURES.md B) so per-query COST is
  * comparable, while exponents are fitted ONLY across this generator's
  * own sf0.01/0.1/1 outputs — one generator, three scales,
  * apples-to-apples. Correctness at the generated sf1 is still
  * oracle-checked: DuckDB runs on the same files, so the compare is
  * generator-agnostic.
  *
  * Fully distributed and seed-stable: every cell is a pure function of
  * (table, row id) via a splitmix64-style mix expressed in NATIVE Spark
  * expressions (xxhash64 -> arithmetic), no RNG sequence, no UDFs, no
  * driver-side loops — generating sf1000 would parallelize exactly like
  * a query. Usage: `runMain graft.tools.GenData <outBase> <sf> [<sf>...]`
  * writes `<outBase>/sf<sf>/<table>.parquet` dirs.
  */
object GenData {

  /** Per-table/per-field deterministic 63-bit hash of a row id. */
  private def h(tag: String, id: Column): Column =
    abs(xxhash64(lit(tag), id))

  /** Uniform double in [0, 1) with ~6 significant digits. */
  private def u01(tag: String, id: Column): Column =
    (h(tag, id) % 1000000L).cast("double") / lit(1000000.0)

  /** Driver-fixture vocabulary (31 words, profiled from sf0.01). */
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  def write(s: SparkSession, dir: String, sf: Double): Unit = {
    val nCust = math.max(1L, (150000 * sf).toLong)
    val nSupp = math.max(1L, (10000 * sf).toLong)
    val nPart = math.max(1L, (200000 * sf).toLong)
    val nOrd = math.max(1L, (1500000 * sf).toLong)
    val nEv = math.max(1L, (1000000 * sf).toLong)
    val nDoc = math.max(1L, (500000 * sf).toLong)

    def out(name: String, df: DataFrame, rows: Long): Unit = {
      // ~50k rows/file (≈5-10 MB): the multi-file layout a real lake
      // table has. The old rows/500000 rule wrote sf1's 500k-doc corpus
      // as ONE 58 MB file — which is also a single parquet row group, so
      // it planned as a single scan split and every explode-shaped
      // consumer ran 1-of-32 threads wide (the Tables.spread guard now
      // defends against such inputs too, but the generator shouldn't
      // produce a layout no sane writer would).
      val parts = math.max(1, math.min(64, rows / 50000L).toInt)
      df.repartition(parts).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

    out("region", s.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), col("id").cast("int") + 1).as("r_name")), 5)

    out("nation", s.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), 25)

    out("customer", s.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (h("c_nat", col("id")) % 25).cast("int").as("c_nationkey"),
      // acctbal in [-999, 9999] with 2 decimals, like the profile
      (floor(u01("c_bal", col("id")) * 1099900) / 100 - 999).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").map(lit): _*),
        (h("c_seg", col("id")) % 5).cast("int") + 1).as("c_mktsegment")), nCust)

    out("supplier", s.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (h("s_nat", col("id")) % 25).cast("int").as("s_nationkey"),
      (floor(u01("s_bal", col("id")) * 1099900) / 100 - 999).as("s_acctbal")), nSupp)

    out("part", s.range(nPart).select(
      col("id").as("p_partkey"),
      concat(
        element_at(array(Seq("red", "green", "blue", "small", "large")
          .map(lit): _*), (h("p_c", col("id")) % 5).cast("int") + 1),
        lit(" "),
        element_at(array(Seq("widget", "bolt", "ring", "gear", "cog")
          .map(lit): _*), (h("p_n", col("id")) % 5).cast("int") + 1)).as("p_name"),
      concat(lit("Brand#"), (h("p_b", col("id")) % 25) + 1).as("p_brand"),
      element_at(array(Seq("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO",
        "STANDARD").map(lit): _*),
        (h("p_t", col("id")) % 6).cast("int") + 1).as("p_type"),
      ((h("p_s", col("id")) % 50) + 1).cast("int").as("p_size"),
      (floor(lit(90000) + u01("p_r", col("id")) * 9990) / 100).as("p_retailprice")),
      nPart)

    // o_orderdate is a pure function of the order key, so lineitem can
    // recompute it without a join (referential integrity by construction)
    // epoch-micros arithmetic (session TZ is UTC); cast to timestamp_ntz
    // because the driver fixtures' parquet timestamps are NTZ
    // (isAdjustedToUTC=false) and DuckDB types tz-aware columns
    // differently in the oracle compare
    def ntz(c: Column): Column = c.cast("timestamp_ntz")
    def orderDate(key: Column): Column =
      ntz(timestamp_micros((lit(788918400L) + (h("o_dt", key) % 2405) * 86400L)
        * 1000000L))
    out("orders", s.range(nOrd).select(
      col("id").as("o_orderkey"),
      (h("o_cust", col("id")) % nCust).as("o_custkey"),
      element_at(array(Seq("F", "O", "P").map(lit): _*),
        (h("o_st", col("id")) % 3).cast("int") + 1).as("o_orderstatus"),
      (floor(lit(90000) + u01("o_tp", col("id")) * 10409788) / 100).as("o_totalprice"),
      orderDate(col("id")).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*),
        (h("o_pr", col("id")) % 5).cast("int") + 1).as("o_orderpriority")), nOrd)

    // exactly 4 lines per order (driver profile: avg 4.07, 1..7)
    val nLine = nOrd * 4
    out("lineitem", s.range(nLine).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (h("l_part", col("id")) % nPart).as("l_partkey"),
      (h("l_supp", col("id")) % nSupp).as("l_suppkey"),
      ((col("id") % 4) + 1).cast("int").as("l_linenumber"),
      ((h("l_qty", col("id")) % 50) + 1).cast("double").as("l_quantity"),
      (floor(lit(90182) + u01("l_ep", col("id")) * 10409606) / 100).as("l_extendedprice"),
      ((h("l_dc", col("id")) % 11).cast("double") / 100).as("l_discount"),
      ((h("l_tx", col("id")) % 9).cast("double") / 100).as("l_tax"),
      element_at(array(Seq("A", "N", "R").map(lit): _*),
        (h("l_rf", col("id")) % 3).cast("int") + 1).as("l_returnflag"),
      element_at(array(Seq("F", "O").map(lit): _*),
        (h("l_ls", col("id")) % 2).cast("int") + 1).as("l_linestatus"),
      ntz(timestamp_micros((lit(788918400L)
        + (h("o_dt", (col("id") / 4).cast("long")) % 2405) * 86400L
        + (h("l_sd", col("id")) % 95 + 1) * 86400L) * 1000000L))
        .as("l_shipdate")), nLine)

    out("events", s.range(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) // 2024-01-01 in epoch micros
        + (h("e_ts", col("id")) % 2592000L) * 1000000L
        + h("e_us", col("id")) % 1000000L).cast("timestamp_ntz").as("ts"),
      (h("e_u", col("id")) % math.max(1L, nEv * 3 / 20000)).as("user_id"),
      element_at(array(Seq("click", "error", "purchase", "signup", "view")
        .map(lit): _*), (h("e_t", col("id")) % 5).cast("int") + 1).as("event_type"),
      (floor(u01("e_v", col("id")) * 49002) / 100 + lit(0.01)).as("value"),
      format_string("{\"k\": %d}", h("e_k", col("id")) % 100).as("props")), nEv)

    // documents: ~10% of rows are near-duplicates of their predecessor
    // (same word stream + one appended word), mirroring the fixtures'
    // all-distinct-texts-with-shared-shingles shape that the dedup
    // families candidate on; lang mix profiled (en 44%, rest ~14% each).
    //
    // Vocabulary follows Heaps' law (V ∝ sqrt(N), anchored so the sf0.01
    // output — 5 000 docs, the profiled 31 words — is bit-identical to
    // the fixture-profiled generation). Holding the 31-word vocab FIXED
    // while doc count grows is a degenerate corpus no natural text
    // exhibits: at 500 k docs every 3-gram shingle lands in >600 docs,
    // which (a) blows past the corpus-relative stop-shingle cap
    // greatest(100, N/10000) so the capped shingle universe collapses
    // and verified near-dup pairs go EMPTY, and (b) drives MinHash band
    // collisions toward all-pairs, turning the dedup families' linear
    // candidate structure quadratic. Measured at sf1 before this change:
    // empty-pair crashes in both groups entries and a memory-exhausted
    // family-recall audit. Words beyond the 31 profiled ones are
    // deterministic suffixed variants ("join_7"), so small-sf text is
    // untouched and the word-frequency SHAPE (uniform draw) is preserved.
    val nVocab = math.max(31L, (31.0 * math.sqrt(nDoc / 5000.0)).toLong)
    val vocabArr = array(vocab.map(lit): _*)
    def wordOf(idx: Column): Column = {
      val base31 = element_at(vocabArr, (idx % 31).cast("int") + 1)
      when(idx < 31, base31)
        .otherwise(concat(base31, lit("_"), floor(idx / lit(31)).cast("long")))
    }
    val baseId = when(col("id") % 10 === 9, col("id") - 1).otherwise(col("id"))
    def textOf(base: Column, extra: Column): Column = {
      val len = (h("d_len", base) % 72) + 8
      concat(
        array_join(transform(sequence(lit(1), len.cast("int")),
          i => wordOf(abs(xxhash64(lit("d_w"), base, i)) % nVocab)), " "),
        extra)
    }
    out("documents", s.range(nDoc).select(
      col("id").as("doc_id"),
      textOf(baseId, when(col("id") % 10 === 9, lit(" dup")).otherwise(lit("")))
        .as("text"),
      element_at(array(Seq("en", "en", "en", "de", "es", "fr", "zh")
        .map(lit): _*), (h("d_lang", baseId) % 7).cast("int") + 1).as("lang"),
      concat(lit("src"), (h("d_src", col("id")) % 20) + 1).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), nDoc)

    // embeddings: 10 hash-defined cluster centers + per-vector noise, so
    // IVF/PQ/kNN see real cluster structure; values span ~[-0.5, 0.5]
    out("embeddings", s.range(nDoc).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((abs(xxhash64(lit("emb_c"), col("id") % 10, j)) % 1000).cast("double")
          / 500 - 1) * lit(0.3) +
          ((abs(xxhash64(lit("emb_n"), col("id"), j)) % 1000).cast("double")
            / 500 - 1) * lit(0.2))
        .cast("array<float>").as("embedding"),
      (col("id") % 10).cast("int").as("label")), nDoc)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenData <outBase> <sf> [<sf>...]")
    val outBase = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // match the driver fixtures' physical type (Spark's default INT96
    // reads back fine but is deprecated and surprises other engines)
    val spark = graft.Session.build(cpus,
      Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { sfs =>
      val t0 = System.nanoTime()
      write(spark, s"$outBase/sf$sfs", sfs.toDouble)
      println(f"[gendata] sf$sfs -> $outBase/sf$sfs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
