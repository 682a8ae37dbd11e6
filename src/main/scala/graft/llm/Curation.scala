package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.llm.XHash._
import graft.util.Exact

/** Corpus curation operators (north-star suite): the bookkeeping every
  * large-scale training-data pipeline runs between dedup and training —
  * deterministic split assignment, sequence packing, and mixture
  * weighting. All three are narrow projections/aggregations (no joins of
  * O(N) tables), and all arithmetic is integer/exact so the DuckDB oracle
  * matches bit-for-bit.
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Context length for concat-and-chop packing (whitespace tokens). */
  val CtxLen = 512L

  /** Per-source token budget for [[q_llm_token_budget]]'s greedy fill. */
  val TokenBudget = 2000L

  /** Frequency cap: max docs kept per (source, lang) group. */
  val CapPerGroup = 10L

  /** Per-source mixture weights (a config literal in a real pipeline;
    * here a deterministic ramp over the test corpus's src0..src19 that
    * sums to 1). Both engines consume the same Scala Doubles — Spark via
    * `toDF`, the oracle via exact plain-decimal literals (see the
    * formatting note in [[oracleSql]]). */
  val mixtureWeights: Seq[(String, Double)] =
    (0 until 20).map(i => (s"src$i", (i + 1) / 210.0))

  /** Sliding-window chunk width / stride (whitespace tokens) for the RAG
    * chunking entry — overlapping windows so retrieval never loses a
    * sentence to a chunk boundary. */
  val ChunkW = 16
  val ChunkS = 8

  /** DSIR hashed-feature bucket count. The published method hashes word
    * n-grams into a fixed bucket space so the two distribution estimates
    * are dense small vectors regardless of corpus size; 256 keeps the
    * per-bucket weight table broadcast-trivial while still separating the
    * sources in the test corpus. */
  val DsirBuckets = 256L

  /** The target-domain slice for DSIR: docs from this source play the
    * "high-quality target sample" role (in production: a curated corpus). */
  val DsirTarget = "src0"

  /** Selection budget: keep the top 1/DsirKeepFrac of each source's raw
    * docs by importance weight. */
  val DsirKeepFrac = 4L

  /** Token budget per output training shard for [[q_llm_output_shards]]. */
  val ShardBudget = 1000L

  /** Curriculum stage count (equal-width length bands) for
    * [[q_llm_curriculum]]. */
  val CurriculumStages = 4L

  /** English stopword probe set shared by the funnel's stopword stage
    * (a small fixed list, embedded as an array literal in both engines). */
  val funnelStops: Seq[String] = Seq("the", "a", "of", "to", "and", "is", "in")

  /** Deterministic messy-URL synthesis for the URL-canonicalization
    * family — the documents table carries no URL column, so (like
    * `synthesizeRawCommits`, `ingest/CommitEtl.scala`) both engines derive
    * one from the keys: scheme/www/port/trailing-slash/tracking-param/
    * fragment variants keyed by doc_id mods, so every canonicalization
    * rule fires on a known subset and distinct raw URLs COLLIDE after
    * canonicalization (doc_id mods 5/40/7 bound the distinct canon
    * space). `cast` abstracts the STRING/VARCHAR spelling. */
  private def rawUrlExpr(cast: String): String =
    "concat(" +
      "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END, " +
      s"source, CAST(doc_id % 5 AS $cast), '.example.com', " +
      "CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END, " +
      s"'/', lang, '/page/', CAST(doc_id % 40 AS $cast), " +
      "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END, " +
      "CASE WHEN doc_id % 3 = 0 THEN " +
      s"concat('?utm_source=feed&b=2&a=', CAST(doc_id % 7 AS $cast)) ELSE '' END, " +
      "CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)"

  /** Doc-level canonical URL: `(doc_id, host, url)`. Lowercase; scheme,
    * fragment, default ports, `www.`, tracking params, and the trailing
    * slash stripped; query params SORTED (param order must not make two
    * fetches of the same page distinct). Pure per-row string built-ins —
    * one scan, codegen'd, no shuffle. */
  private[graft] def urlCanonOf(d: DataFrame): DataFrame =
    d.selectExpr("doc_id", s"lower(${rawUrlExpr("STRING")}) AS u0")
      .selectExpr("doc_id", "split_part(split_part(u0, '://', 2), '#', 1) AS u2")
      .selectExpr("doc_id", "split_part(u2, '/', 1) AS hp",
        "substr(u2, length(split_part(u2, '/', 1)) + 1) AS rest")
      .selectExpr("doc_id", "replace(replace(hp, ':443', ''), ':80', '') AS h1",
        "split_part(rest, '?', 1) AS p0", "split_part(rest, '?', 2) AS qs")
      .selectExpr("doc_id",
        "CASE WHEN substr(h1, 1, 4) = 'www.' THEN substr(h1, 5) ELSE h1 END AS host",
        "CASE WHEN length(p0) > 1 AND substr(p0, length(p0), 1) = '/' " +
          "THEN substr(p0, 1, length(p0) - 1) ELSE p0 END AS path",
        "array_join(array_sort(filter(split(qs, '&'), " +
          "p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&') AS params")
      .selectExpr("doc_id", "host",
        "concat(host, path, CASE WHEN params = '' THEN '' " +
          "ELSE concat('?', params) END) AS url")

  /** Oracle mirror of [[urlCanonOf]] as a CTE chain ending in
    * `canon(doc_id, host, url)`. */
  private def duckUrlCtes: String = s"""
      u0 AS (SELECT doc_id, lower(${rawUrlExpr("VARCHAR")}) AS u0 FROM documents),
      u2 AS (SELECT doc_id, split_part(split_part(u0, '://', 2), '#', 1) AS u2 FROM u0),
      hp AS (
        SELECT doc_id, split_part(u2, '/', 1) AS hp,
               substr(u2, length(split_part(u2, '/', 1)) + 1) AS rest
        FROM u2),
      pq AS (
        SELECT doc_id, replace(replace(hp, ':443', ''), ':80', '') AS h1,
               split_part(rest, '?', 1) AS p0, split_part(rest, '?', 2) AS qs
        FROM hp),
      parts AS (
        SELECT doc_id,
               CASE WHEN substr(h1, 1, 4) = 'www.' THEN substr(h1, 5) ELSE h1 END AS host,
               CASE WHEN length(p0) > 1 AND substr(p0, length(p0), 1) = '/'
                    THEN substr(p0, 1, length(p0) - 1) ELSE p0 END AS path,
               COALESCE(array_to_string(list_sort(list_filter(string_split(qs, '&'),
                 p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&'), '') AS params
        FROM pq),
      canon AS (
        SELECT doc_id, host,
               concat(host, path, CASE WHEN params = '' THEN ''
                 ELSE concat('?', params) END) AS url
        FROM parts)"""

  /** See the `q_llm_chunk_windows` entry comment. */
  private[graft] def chunkWindowsOf(d: DataFrame): DataFrame = {
    val (w, st) = (ChunkW, ChunkS)
    d.selectExpr("doc_id", "split(text, ' ') AS t")
      .selectExpr("doc_id", "size(t) AS n_tok", "t")
      .selectExpr("doc_id", "n_tok",
        s"explode(transform(sequence(0, CASE WHEN n_tok <= $w THEN 0 " +
          s"ELSE (n_tok - $w + $st - 1) DIV $st END, 1), i -> named_struct(" +
          s"'idx', CAST(i AS INT), " +
          s"'nw', size(slice(t, i * $st + 1, $w)), " +
          s"'fp', graft_charhash(array_join(slice(t, i * $st + 1, $w), ' '))))) AS z")
      .selectExpr("doc_id", "z.idx AS chunk_idx", "z.nw AS n_words", "z.fp AS fp")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Max epochs any source may repeat in [[q_llm_repeat_plan]] (the
    * data-constrained-scaling finding: value decays fast past ~4
    * repeats). */
  val MaxEpochs = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Repeat-allocation planner (data-constrained scaling): when the
    // token budget exceeds one pass over the corpus, which sources repeat
    // and how many epochs each? Greedy at epoch granularity — every
    // source gets epoch 1 before any source gets epoch 2, ties inside an
    // epoch broken by exact integer quality (avg per-doc TTR in ppm)
    // descending — expressed declaratively as a source x epoch grid with
    // one running-total window: a row is funded iff its cumulative token
    // cost fits the budget (budget = 7/4 of one corpus pass, attached by
    // the 1-row-aggregate broadcast scalar pattern). All arithmetic is
    // integer (scaled-long quality, DIV for the per-source mean), so the
    // plan is bit-reproducible. Scale shape: the grid is O(sources x
    // MaxEpochs) rows — a planner table, not corpus data — so the
    // single-partition window is a few hundred rows no matter the corpus
    // size; the only corpus-scale work is one scan + one hash agg.
    "q_llm_repeat_plan" -> { (s, dir) =>
      val perSrc = docs(s, dir)
        .selectExpr("source", "split(text, ' ') AS t")
        .selectExpr("source", "CAST(size(t) AS BIGINT) AS n_tok",
          "size(array_distinct(t)) AS n_uniq")
        .select(col("source"), col("n_tok"),
          Exact.scaled(expr("CAST(n_uniq AS DOUBLE) / n_tok"), 6).as("s6"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("epoch_tokens"),
          expr("sum(s6) DIV count(1)").as("q6"))
      val budget = perSrc.agg(
        expr("7 * sum(epoch_tokens) DIV 4").as("budget"))
      val w = Window
        .orderBy(col("epoch"), col("q6").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perSrc.crossJoin(broadcast(budget))
        .withColumn("epoch", explode(expr(s"sequence(1, $MaxEpochs)")))
        .withColumn("cum", sum(col("epoch_tokens")).over(w))
        .withColumn("take", expr("IF(cum <= budget, 1L, 0L)"))
        .groupBy(col("source"), col("n_docs"), col("epoch_tokens"), col("q6"))
        .agg(sum(col("take")).as("epochs_alloc"))
        .select(col("source"), col("n_docs"), col("epoch_tokens"),
          (col("q6").cast("double") / lit(1000000.0)).as("quality"),
          col("epochs_alloc"),
          (col("epochs_alloc") * col("epoch_tokens")).as("tokens_alloc"))
        .orderBy(col("source"))
    },

    // Corpus data card (the "datasheet for datasets" table a corpus
    // release ships): per-source rows plus an ALL rollup — doc/token
    // counts, exact-duplicate doc count (normalized-text hash seen >= 2
    // times ANYWHERE in the corpus, so cross-source copies count in both
    // sources), language spread, exact average length (x100 integer) and
    // exact median token count (lower median, doc_id tie-break). One
    // corpus scan + one hash agg for the dup table + one windowed median
    // over the per-source stream; every number is integer arithmetic, so
    // the card is bit-reproducible at any partition count.
    "q_llm_data_card" -> { (s, dir) =>
      val b = docs(s, dir).selectExpr("doc_id", "source", "lang", "n_chars",
        "CAST(size(split(text, ' ')) AS BIGINT) AS toks",
        "graft_charhash(lower(trim(text))) AS h")
      val dupH = b.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .where(col("c") >= 2).select(col("h"), lit(1L).as("_dup"))
      val b2 = b.join(dupH, Seq("h"), "left")
        .withColumn("dup", coalesce(col("_dup"), lit(0L)))
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          col("toks"), col("dup"))
      // the ALL rollup rides the same stream: union a re-labeled copy and
      // aggregate once (grouping-sets semantics without the null label)
      val dbl = b2.union(b2.withColumn("source", lit("ALL")))
        .localCheckpoint() // feeds the agg AND the median window
      val med = dbl.withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("toks"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
        .where(expr("rn = (n + 1) DIV 2"))
        .select(col("source"), col("toks").as("median_toks"))
      val agg = dbl.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("dup")).as("n_dup_docs"),
        sum(col("toks")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        expr("sum(n_chars) * 100 DIV count(1)").as("avg_chars_x100"))
      agg.join(med, Seq("source")).orderBy(col("source"))
    },

    // Span-corruption preprocessing audit (the T5/UL2 denoising-objective
    // prep): deterministic hash-seeded mask spans — token pos STARTS a
    // span iff wordhash(doc:pos) % 20 = 0 (~5% of positions), span length
    // 1 + h DIV 20 % 3 (1..3 tokens) — then overlapping spans are merged
    // into islands (the lag/cumsum interval merge shared with
    // q_llm_dedup_substrings) and clipped at the doc end. Output: per-doc
    // span/masked-token counts + exact mask rate. No RNG anywhere, so the
    // corruption layout is reproducible across runs, engines, and
    // partitionings — the property that makes masked-objective training
    // resumable. One scan + one fan-out-3 explode; windows partition by
    // doc_id only.
    "q_llm_span_corruption" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("mpos"))
      val toks = docs(s, dir)
        .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, w)")
        .selectExpr("doc_id", "pos",
          s"${sparkWordHash("concat('mask-v1:', CAST(doc_id AS STRING), ':', CAST(pos AS STRING))")} AS h")
        .localCheckpoint() // feeds the span starts AND the per-doc token count
      val nt = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      val covered = toks.where(expr("h % 20 = 0"))
        .selectExpr("doc_id",
          "explode(sequence(pos, pos + h DIV 20 % 3)) AS mpos")
        .join(nt, "doc_id").where(col("mpos") < col("n_tok"))
        .select(col("doc_id"), col("mpos")).distinct()
      val islands = covered
        .withColumn("brk",
          when(col("mpos") - lag(col("mpos"), 1).over(w) > 1, 1).otherwise(0))
        .withColumn("isl", sum(col("brk")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_masked"),
          (max(col("isl")) + 1).as("n_spans"))
      // Column-API double arithmetic (NOT selectExpr with a `100.0` literal:
      // Spark SQL parses that as DECIMAL and the whole chain — and the output
      // column — would land as DECIMAL(28,7) while the oracle emits DOUBLE).
      nt.join(islands, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_masked"), lit(0L)).as("n_masked"),
          graft.util.Exact
            .fix(coalesce(col("n_masked"), lit(0L)) * lit(100.0) / col("n_tok"), 4)
            .as("mask_pct"))
        .orderBy(col("doc_id"))
    },

    // RAG chunking: overlapping sliding word windows (width ChunkW,
    // stride ChunkS; short docs yield exactly one chunk) with a per-chunk
    // content fingerprint — the embedding-ready chunk table every
    // retrieval pipeline materializes between curation and indexing. One
    // scan + one explode (fan-out n_tok/stride); the per-chunk
    // fingerprint is the charhash kernel (one rolling pass per chunk);
    // window count is exact integer arithmetic
    // (1 + (n_tok - W + S - 1) DIV S), identical in both engines.
    "q_llm_chunk_windows" -> ((s, dir) => chunkWindowsOf(docs(s, dir))),

    // Deterministic train/val/test split: hash the (salted) doc id, not a
    // RNG — reproducible across runs/engines/cluster sizes, stable under
    // re-partitioning, and new docs don't reshuffle old assignments (the
    // property a 100 TB pipeline needs; a random() split has none of
    // these). 80/10/10 by hash mod 100. Output: per (source, split)
    // counts + exact token mass, the table a data-mixture audit reads.
    "q_llm_split_assign" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("source", "size(split(text, ' ')) AS n_tok",
          s"graft_charhash(concat('split-v1:', CAST(doc_id AS STRING))) % 100 AS bucket")
        .selectExpr("source", "n_tok",
          "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
        .orderBy(col("source"), col("split"))
    },

    // Leakage-safe split assignment: near-duplicate docs MUST land in the
    // same split or the test set contains paraphrases of training data —
    // the train/test contamination every published dedup paper warns
    // about. The split hash is keyed by the doc's near-dup CLUSTER
    // canonical (CC over the verified MinHash-LSH pairs — the
    // q_llm_dedup_groups substrate), so whole clusters move together;
    // singletons hash by their own id, reproducing q_llm_split_assign's
    // assignment for unduplicated docs. Output: per-doc split + the
    // canonical that pinned it; cost = the dedup pipeline (already the
    // corpus's standing cost) + one hash projection.
    "q_llm_split_leakage_safe" -> { (s, dir) =>
      val d = docs(s, dir)
      val cc = graft.llm.Dedup.connectedComponents(
        graft.llm.Dedup.verifiedPairsCached(s, dir))
      d.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("canonical"), col("doc_id")).as("canonical"))
        .selectExpr("doc_id", "canonical",
          "graft_charhash(concat('split-v1:', CAST(canonical AS STRING))) % 100 AS bucket")
        .selectExpr("doc_id", "canonical",
          "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split")
        .orderBy(col("doc_id"))
    },

    // Sequence packing (concat-and-chop): documents are concatenated in a
    // deterministic order and chopped into CtxLen-token training
    // sequences; each doc spans chunks [floor(start/L), floor((end-1)/L)].
    // Packing is PER SOURCE (partitionBy(source) + orderBy(doc_id)): the
    // running sum is a partitioned window, so no single-task global
    // cumsum — the shape that scales is shard-local packing, which is
    // what real pipelines do anyway. Output: per-source chunk counts,
    // boundary-crossing docs, and exact fill of the last (ragged) chunk.
    "q_llm_pack_sequences" -> { (s, dir) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .selectExpr("source", "doc_id", "size(split(text, ' ')) AS n_tok")
        .withColumn("cum", sum(col("n_tok")).over(w))
        .selectExpr("source", "n_tok", "cum",
          s"(cum - n_tok) DIV $CtxLen AS first_chunk",
          s"(cum - 1) DIV $CtxLen AS last_chunk")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tokens"),
          (max(col("last_chunk")) + 1).as("n_chunks"),
          sum(expr("IF(last_chunk > first_chunk, 1, 0)")).as("n_boundary_docs"),
          max(col("cum")).as("cum_max"))
        .selectExpr("source", "n_docs", "tokens", "n_chunks", "n_boundary_docs",
          s"CAST(cum_max - (n_chunks - 1) * $CtxLen AS BIGINT) AS last_chunk_fill")
        .orderBy(col("source"))
    },

    // Token-budget subcorpus selection: each source contributes documents
    // in deterministic hash-priority order until its token budget fills —
    // the "give me ~N tokens per source" sampling step of mixture
    // construction, RNG-free for the same reproducibility reasons as
    // q_llm_split_assign (stable under re-partitioning; adding docs only
    // displaces lower-priority ones). The running fill is a per-source
    // window cumsum (shard-local, no global ordering), and docs whose
    // cumulative fill exceeds the budget are cut — so the selection is a
    // prefix of the hash order, not a size-biased sample.
    "q_llm_token_budget" -> { (s, dir) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(col("pri"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .selectExpr("doc_id", "source", "size(split(text, ' ')) AS n_tok",
          "graft_charhash(concat('budget-v1:', CAST(doc_id AS STRING))) AS pri")
        .withColumn("cum", sum(col("n_tok")).over(w))
        .where(col("cum") <= lit(TokenBudget))
        .select(col("doc_id"), col("source"), col("n_tok"), col("cum"))
        .orderBy(col("source"), col("cum"))
    },

    // Mixture weighting: per-source token mass vs target mixture weights →
    // the effective per-epoch sampling factor (how many times each
    // source's tokens repeat to hit its share of a fixed token budget
    // equal to the corpus size). Broadcast constant-row literal weights
    // table (one row per source); exact fixed-point output.
    "q_llm_mixture_stats" -> { (s, dir) =>
      import s.implicits._
      val weights = mixtureWeights.toDF("source", "weight")
      val perSource = docs(s, dir)
        .selectExpr("source", "size(split(text, ' ')) AS n_tok")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      val total = perSource.agg(sum(col("tokens")).as("total_tokens"))
      perSource.join(broadcast(weights), Seq("source"))
        .crossJoin(broadcast(total))
        .selectExpr("source", "n_docs", "tokens",
          "CAST(tokens AS DOUBLE) / total_tokens AS nat_raw",
          "weight",
          "weight * total_tokens / tokens AS rep_raw")
        .select(col("source"), col("n_docs"), col("tokens"),
          Exact.fix(col("nat_raw"), 6).as("natural_share"),
          col("weight"),
          Exact.fix(col("rep_raw"), 6).as("repetition_factor"))
        .orderBy(col("source"))
    },

    // Temperature-resampled source mixture — the multilingual tau-sampling
    // trick (q_s ∝ p_s^tau): instead of hand-set weights, the target share
    // is derived from the natural token share, compressed toward uniform.
    // tau = 0.5 exactly, so the power IS sqrt — IEEE-correctly-rounded in
    // both engines, where an arbitrary pow(p, tau) would be libm-dependent
    // and break the cross-engine hash. The sqrt terms are scaled to
    // 12-decimal longs BEFORE normalization (partition-order-independent
    // integer sums — the Exact discipline), and the q/p repetition factor
    // materializes per doc as floor(r) epochs + one hash-fractional extra,
    // so the realized token draw hits the target in expectation with NO
    // RNG: reproducible across runs, engines, and cluster sizes. Scale
    // shape: two slim per-source aggs + a broadcast epochs join — one
    // corpus scan, nothing corpus-sized shuffles.
    "q_llm_mixture_temperature" -> { (s, dir) =>
      val per = docs(s, dir)
        .selectExpr("source", "doc_id", "size(split(text, ' ')) AS n_tok",
          s"${sparkWordHash("concat('temp-v1:', CAST(doc_id AS STRING))")} % 1000000 AS h")
        .localCheckpoint() // feeds the share agg AND the per-doc epochs join
      val agg = per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      val tot = agg.agg(sum(col("tokens")).as("total_tokens"))
      val sh = agg.crossJoin(broadcast(tot))
        .withColumn("p6", Exact.scaled(expr("CAST(tokens AS DOUBLE) / total_tokens"), 6))
        .withColumn("s12", Exact.scaled(expr("sqrt(CAST(tokens AS DOUBLE) / total_tokens)"), 12))
      val den = sh.agg(sum(col("s12")).as("den12"))
      val shares = sh.crossJoin(broadcast(den))
        .withColumn("q6", expr("(s12 * 1000000) DIV den12"))
        .withColumn("r6", expr("(q6 * 1000000) DIV greatest(p6, 1)"))
      val out = per.join(broadcast(shares.select(col("source"), col("r6"))), Seq("source"))
        .withColumn("copies", expr("r6 DIV 1000000 + IF(h < r6 % 1000000, 1, 0)"))
        .groupBy(col("source"))
        .agg(sum(col("copies")).as("docs_out"),
          sum(expr("copies * n_tok")).as("tokens_out"))
      shares.join(out, Seq("source"))
        .select(col("source"), col("n_docs"), col("tokens"),
          (col("p6") / lit(1000000.0)).as("natural_share"),
          (col("q6") / lit(1000000.0)).as("temp_share"),
          (col("r6") / lit(1000000.0)).as("repetition"),
          col("docs_out"), col("tokens_out"))
        .orderBy(col("source"))
    },

    // URL-level dedup after canonicalization — the FIRST dedup stage of a
    // crawl pipeline, run before any text dedup because it is nearly
    // free (per-row string built-ins + one hash agg on the canon key) and
    // removes refetches of the same page under scheme / www / default-port
    // / param-order / tracking-param / trailing-slash variation. Per doc:
    // canonical URL, host, position in its URL group (min doc_id keeps),
    // group size. One shuffle, on the canon key.
    "q_llm_url_canonical" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url"))
      urlCanonOf(docs(s, dir))
        .withColumn("pos", row_number().over(w.orderBy(col("doc_id"))))
        .withColumn("n_same", count(lit(1)).over(w))
        .withColumn("keep", expr("CAST(pos = 1 AS INT)"))
        .select(col("doc_id"), col("host"), col("url"),
          col("pos"), col("n_same"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // Per-host crawl audit over the canonical URLs: doc count, distinct
    // pages, refetch rate, and an over-crawled flag at a corpus-relative
    // cap (host holding > 1/20 of the corpus) — the host-level feedback
    // signal crawl scheduling consumes. Slim host/url-key aggs only; the
    // corpus total attaches as a broadcast scalar.
    "q_llm_host_stats" -> { (s, dir) =>
      val per = urlCanonOf(docs(s, dir))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("url")).as("n_pages"))
      val tot = per.agg(sum(col("n_docs")).as("total_docs"))
      per.crossJoin(broadcast(tot))
        .withColumn("dup_rate",
          Exact.fix(expr("CAST(n_docs - n_pages AS DOUBLE) / n_docs"), 6))
        .withColumn("over_crawled", expr("CAST(n_docs * 20 > total_docs AS INT)"))
        .select(col("host"), col("n_docs"), col("n_pages"),
          col("dup_rate"), col("over_crawled"))
        .orderBy(col("host"))
    },

    // Deterministic epoch-aware dataloader sharding: each epoch draws a
    // FRESH pseudo-random permutation (the epoch salts the hash) and every
    // doc lands on exactly one of 8 shards — the distributed data-loader
    // contract: workers read disjoint shards with no coordinator, the
    // order differs every epoch, and any run reproduces it bit-for-bit
    // (hash, not RNG). Output audits the balance: per-(epoch, shard) doc
    // and token counts plus the shard's token share of its epoch. One
    // scan; the per-epoch explode is a constant 3x fan-out of slim longs.
    "q_llm_epoch_shards" -> { (s, dir) =>
      val d = docs(s, dir)
        .selectExpr("doc_id", "size(split(text, ' ')) AS n_tok")
        .selectExpr("doc_id", "n_tok", "explode(sequence(0, 2)) AS epoch")
        .selectExpr("doc_id", "n_tok", "epoch",
          s"${sparkWordHash("concat('order-v1:', CAST(epoch AS STRING), ':', " +
            "CAST(doc_id AS STRING))")} % 8 AS shard")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("epoch"))
      d.groupBy(col("epoch"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
        .withColumn("tok_share",
          Exact.fix(col("tokens").cast("double") / sum(col("tokens")).over(w), 6))
        .select(col("epoch"), col("shard"), col("n_docs"), col("tokens"), col("tok_share"))
        .orderBy(col("epoch"), col("shard"))
    },

    // Sequence-length bucketing — the batching-efficiency audit: pad-to-
    // bucket batching wastes (bucket_width - len) tokens per doc, so the
    // bucket layout (powers of two here) decides real accelerator
    // utilization. Per bucket: docs, real tokens, padded slots, waste
    // fraction — all exact integer arithmetic (the bucket edges are a
    // CASE chain, identical in both engines; no float log2). One scan +
    // one tiny agg.
    "q_llm_length_buckets" -> { (s, dir) =>
      val bw = "CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32 " +
        "WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128 " +
        "WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512 " +
        "WHEN n_tok <= 1024 THEN 1024 ELSE 2048 END"
      docs(s, dir)
        .selectExpr("doc_id", "size(split(text, ' ')) AS n_tok")
        .selectExpr("doc_id", "n_tok", s"$bw AS bucket_w")
        .groupBy(col("bucket_w"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
        .withColumn("padded", expr("n_docs * bucket_w"))
        .withColumn("waste_pct", Exact.fix(
          expr("CAST(padded - tokens AS DOUBLE) * 100.0 / padded"), 4))
        .select(col("bucket_w"), col("n_docs"), col("tokens"),
          col("padded"), col("waste_pct"))
        .orderBy(col("bucket_w"))
    },

    // Intra-document repetition scoring (Gopher-style quality rules): the
    // filter that catches looping/boilerplate generators the CROSS-doc
    // dedup suite can't see. Per doc: repeated-word fraction
    // (1 - distinct/total tokens) and repeated-3-gram fraction over the
    // shingle hashes; verdicts in integer arithmetic (no float
    // thresholds). Pure per-row array built-ins — one scan, no joins, no
    // explode; the cheapest possible shape at 100 TB.
    "q_llm_repetition" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "split(text, ' ') AS t",
          s"${sparkWordHashes("text")} AS wh")
        .selectExpr("doc_id",
          "size(t) AS n_tok", "size(array_distinct(t)) AS n_uniq",
          s"IF(size(wh) >= 3, ${sparkShingles("wh")}, array()) AS sh")
        .selectExpr("doc_id", "n_tok", "n_uniq",
          "size(sh) AS n_sh", "size(array_distinct(sh)) AS n_sh_uniq")
        .selectExpr("doc_id", "n_tok", "n_uniq", "n_sh", "n_sh_uniq",
          "CAST(n_tok - n_uniq AS DOUBLE) / n_tok AS repw_raw",
          "IF(n_sh > 0, CAST(n_sh - n_sh_uniq AS DOUBLE) / n_sh, CAST(0 AS DOUBLE)) AS rep3_raw",
          // repeated when >= 1/2 of words repeat OR >= 1/5 of 3-grams
          "CASE WHEN 2 * (n_tok - n_uniq) >= n_tok THEN 'repetitive' " +
            "WHEN n_sh > 0 AND 5 * (n_sh - n_sh_uniq) >= n_sh THEN 'looping' " +
            "ELSE 'ok' END AS verdict")
        .select(col("doc_id"), col("n_tok"), col("n_uniq"),
          col("n_sh"), col("n_sh_uniq"),
          Exact.fix(col("repw_raw"), 6).as("rep_word_ratio"),
          Exact.fix(col("rep3_raw"), 6).as("rep_3gram_ratio"),
          col("verdict"))
        .orderBy(col("doc_id"))
    },

    // Deterministic stratified sampling toward the mixture weights: keep
    // probability per source = 5x its weight (2%..48% across src0..19),
    // decided by a salted doc-id hash — reproducible across engines,
    // cluster sizes, and runs; new docs never flip old keep decisions
    // (the same property as the split). One scan + one agg. The hash is
    // the md5-based wordHash, NOT the rolling charhash: a polynomial
    // rolling hash maps consecutive ids to consecutive values (runs of
    // ~10 share a prefix), so `h < threshold` quantizes kept-rates
    // instead of tracking the per-source weights — measured: every
    // source kept exactly 5/25 under charhash vs a proper 2%..48% ramp
    // under md5. (The split entry's `% 100` over the rolling hash is
    // immune: consecutive ids sweep all residues uniformly.)
    "q_llm_sample_stratified" -> { (s, dir) =>
      import s.implicits._
      val thresholds = mixtureWeights
        .map { case (src, w) => (src, math.floor(w * 50000.0).toLong) }
        .toDF("source", "keep_below")
      docs(s, dir)
        .selectExpr("source", "doc_id", "size(split(text, ' ')) AS n_tok",
          s"${sparkWordHash("concat('samp-v1:', CAST(doc_id AS STRING))")} % 10000 AS h")
        .join(broadcast(thresholds), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("IF(h < keep_below, 1, 0)")).as("n_kept"),
          sum(expr("IF(h < keep_below, n_tok, 0)")).as("kept_tokens"))
        .selectExpr("source", "n_docs", "n_kept", "kept_tokens",
          "CAST(n_kept AS DOUBLE) / n_docs AS rate_raw")
        .select(col("source"), col("n_docs"), col("n_kept"), col("kept_tokens"),
          Exact.fix(col("rate_raw"), 6).as("kept_rate"))
        .orderBy(col("source"))
    },

    // Per-group frequency cap: keep at most CapPerGroup docs per
    // (source, lang), smallest doc_ids win (deterministic) — the
    // over-represented-host capping every crawl pipeline runs. The
    // row_number window partitions by the group key, so the shuffle is
    // one hash exchange on (source, lang) and the cap is applied
    // map-side-after-sort within each partition; Spark's
    // WindowGroupLimit pushes the rank<=K filter below the final sort.
    "q_llm_cap_per_group" -> { (s, dir) =>
      val w = Window.partitionBy(col("source"), col("lang")).orderBy(col("doc_id"))
      docs(s, dir)
        .selectExpr("source", "lang", "doc_id", "size(split(text, ' ')) AS n_tok")
        .withColumn("rn", row_number().over(w))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr(s"IF(rn <= $CapPerGroup, 1, 0)")).as("n_kept"),
          sum(expr(s"IF(rn <= $CapPerGroup, n_tok, 0)")).as("kept_tokens"))
        .orderBy(col("source"), col("lang"))
    },

    // Staged-filter funnel with first-kill attribution: the curation
    // observability report every production pipeline ships — docs flow
    // through the ordered filter stages (language → length window →
    // mean-word-length window → repetition/TTR → stopword presence) and
    // each doc is attributed to the FIRST stage that kills it, so the
    // report reads as a funnel (docs entering each stage, killed there,
    // token mass lost, kill rate). Every verdict is an integer
    // cross-multiplied inequality (the gopher_rules discipline — no float
    // thresholds to diverge across engines). Shape: ONE corpus scan
    // computes all per-doc signals, one 6-group hash agg, then the spine
    // join + running sums run on a 6-row aggregate (the global window is
    // over the 6 stage rows, not the corpus — free at any corpus size).
    // docs_in is the suffix sum of first-kill counts (every doc lands in
    // exactly one bucket), so no separate corpus total is needed.
    "q_llm_filter_funnel" -> { (s, dir) =>
      import s.implicits._
      val stops = funnelStops.map("'" + _ + "'").mkString("array(", ", ", ")")
      val sig = docs(s, dir)
        .selectExpr("lang", "length(text) AS len_txt", "split(text, ' ') AS t")
        .selectExpr("lang", "size(t) AS n_words",
          "len_txt - size(t) + 1 AS len_adj",
          "size(array_distinct(t)) AS n_uniq",
          s"size(array_intersect(t, $stops)) AS n_stop")
        .selectExpr("n_words",
          "CASE WHEN lang <> 'en' THEN 'lang' " +
            "WHEN NOT (n_words BETWEEN 30 AND 1000) THEN 'length' " +
            "WHEN NOT (4 * n_words <= len_adj AND len_adj <= 10 * n_words) THEN 'wordlen' " +
            "WHEN NOT (3 * n_uniq >= n_words) THEN 'repetition' " +
            "WHEN NOT (n_stop >= 2) THEN 'stopwords' ELSE 'kept' END AS stage")
      val byStage = sig.groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("tokens"))
      val spine = Seq((1L, "lang"), (2L, "length"), (3L, "wordlen"),
        (4L, "repetition"), (5L, "stopwords"), (6L, "kept"))
        .toDF("stage_ord", "stage")
      val wRemaining = Window.orderBy(col("stage_ord"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(byStage, Seq("stage"), "left")
        .select(col("stage_ord"), col("stage"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("tokens"), lit(0L)).as("tokens"))
        .withColumn("docs_in", sum(col("n_docs")).over(wRemaining))
        .withColumn("pct_of_in", Exact.fix(
          expr("CASE WHEN docs_in = 0 THEN CAST(0 AS DOUBLE) " +
            "ELSE CAST(n_docs AS DOUBLE) * 100.0 / docs_in END"), 4))
        .select(col("stage_ord"), col("stage"), col("docs_in"), col("n_docs"),
          col("tokens"), col("pct_of_in"))
        .orderBy(col("stage_ord"))
    },

    // Output-shard packing + manifest: assign whole documents to
    // fixed-token-budget training shards (the "write the corpus as shard
    // files a dataloader streams" step) and emit the shard MANIFEST — doc
    // count, exact token mass, doc-id range, fill ratio, and an
    // order-independent membership hash (sum of per-doc md5 hashes mod P)
    // that a loader can verify each shard file against. Sharding is PER
    // SOURCE in deterministic hash-permutation order (the md5 wordHash, a
    // real permutation — see q_llm_sample_stratified's note on why the
    // rolling charhash is wrong for ordering), docs assigned to the shard
    // where their token span starts, so shard k may overflow only by the
    // tail of its last doc (doc-contiguous budget-targeted packing — what
    // real shard writers do). Shape: one scan, one per-source window
    // cumsum (shard-local, no global order), one hash agg; the membership
    // hash can't overflow because a shard holds at most budget/min_doc_tok
    // docs by construction.
    "q_llm_output_shards" -> { (s, dir) =>
      val w = Window.partitionBy(col("source")).orderBy(col("pri"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .selectExpr("doc_id", "source", "size(split(text, ' ')) AS n_tok",
          s"${sparkWordHash("concat('shard-v1:', CAST(doc_id AS STRING))")} AS pri")
        .withColumn("cum", sum(col("n_tok")).over(w))
        .selectExpr("source", "doc_id", "n_tok", "pri",
          s"(cum - n_tok) DIV $ShardBudget AS shard_id")
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tokens"),
          min(col("doc_id")).as("doc_min"),
          max(col("doc_id")).as("doc_max"),
          expr(s"CAST(sum(pri) % $P AS BIGINT)").as("member_hash"))
        .withColumn("fill_pct", Exact.fix(
          expr(s"CAST(tokens AS DOUBLE) * 100.0 / $ShardBudget"), 4))
        .orderBy(col("source"), col("shard_id"))
    },

    // Sequence-length curriculum staging: band the corpus into
    // CurriculumStages equal-width length bands (short→long, the published
    // short-first curriculum) and emit the pacing schedule — per-stage doc
    // count, exact token mass, length range, cumulative tokens seen by the
    // end of each stage, and a deterministic stage fingerprint (sum of
    // salted doc hashes mod P) that makes the assignment auditable. Band
    // edges are CORPUS-RELATIVE — (n_tok - min) * K DIV (max - min + 1),
    // exact integer arithmetic off one broadcast min/max aggregate — not
    // compile-time length constants, so the banding survives any corpus
    // scale or length distribution. No global sort and no NTILE (a global
    // ntile is a single-task sort at 100 TB); the only windows run over
    // the K stage rows. Within-stage epoch order is q_llm_epoch_shards's
    // job (epoch-salted hash permutation) — composing the two gives
    // curriculum-ordered epochs with no coordinator.
    "q_llm_curriculum" -> { (s, dir) =>
      val base = docs(s, dir)
        .selectExpr("doc_id", "size(split(text, ' ')) AS n_tok",
          s"${sparkWordHash("concat('curr-v1:', CAST(doc_id AS STRING))")} AS h")
      val bounds = base.agg(min(col("n_tok")).as("mn"), max(col("n_tok")).as("mx"))
      base.crossJoin(broadcast(bounds))
        .selectExpr("doc_id", "n_tok", "h",
          s"CAST((n_tok - mn) * $CurriculumStages DIV (mx - mn + 1) AS BIGINT) AS stage")
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tokens"),
          min(col("n_tok")).cast("long").as("tok_min"),
          max(col("n_tok")).cast("long").as("tok_max"),
          // per-term reduced mod 1000003 so the stage sum stays far from
          // 63-bit overflow at any row count
          expr(s"CAST(sum(h % 1000003) % $P AS BIGINT)").as("stage_fp"))
        .withColumn("cum_tokens", sum(col("tokens")).over(
          Window.orderBy(col("stage"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("stage"))
    },

    // Excess-perplexity mixture reweighting (the DoReMi shape, published
    // as Domain Reweighting with Minimax Optimization): sources whose
    // bigram-LM average NLL exceeds the corpus average are "hard" domains
    // and get their mixture weight multiplied up; one multiplicative
    // update w' ∝ w · (1 + excess) with the excess CLIPPED to 5 nats (the
    // trust-region clip that keeps one pathological domain from eating
    // the mixture — and keeps the scaled-long products far from 63-bit
    // overflow: w6 ≤ 1e6, factor ≤ 6e6, unnorm·1e6 ≤ 6e18 < 2^63). The
    // published method's exp(η·excess) step is deliberately replaced by
    // the first-order (1 + excess) update: exp() is libm-dependent and
    // would diverge across engines, the linearized update is
    // integer-exact. LM machinery is the q_llm_lm_score pipeline grouped
    // by SOURCE instead of doc — counts shrink to (source × bigram)
    // before any join, the weight/total tables are 20-row broadcasts, and
    // every log term is scaled to 6-decimal longs pre-aggregation, so the
    // ranking and normalization are exact integer arithmetic.
    "q_llm_mixture_reweight" -> { (s, dir) =>
      import s.implicits._
      val w6tab = mixtureWeights
        .map { case (src, w) => (src, math.floor(w * 1000000.0 + 0.5).toLong) }
        .toDF("source", "w6")
      val toks = docs(s, dir)
        .selectExpr("source", s"${sparkWordHashes("text")} AS wh")
        .where(expr("size(wh) >= 2"))
        .localCheckpoint() // feeds bgs AND the vocab count
      val bgs = toks.selectExpr("source",
          "explode(transform(sequence(1, size(wh) - 1), i -> " +
            "named_struct('h1', element_at(wh, i), 'h2', element_at(wh, i + 1)))) AS bg")
        .groupBy(col("source"), col("bg.h1").as("h1"), col("bg.h2").as("h2"))
        .agg(count(lit(1)).as("m"))
        .localCheckpoint() // feeds c2, c1, and the scoring join
      val c2 = bgs.groupBy(col("h1"), col("h2")).agg(sum(col("m")).as("c2"))
      val c1 = bgs.groupBy(col("h1")).agg(sum(col("m")).as("c1"))
      val vocab = toks.selectExpr("explode(wh) AS h")
        .agg(countDistinct(col("h")).as("v"))
      val per = Dln.withDln(
          bgs.join(c2, Seq("h1", "h2")).join(c1, Seq("h1"))
            .crossJoin(broadcast(vocab)),
          "(c2 + 1.0E0) / (c1 + v)", "t6")
        .groupBy(col("source"))
        .agg(sum(col("m") * col("t6")).as("s6"), sum(col("m")).as("nb"))
      val tot = per.agg(sum(col("s6")).as("ts6"), sum(col("nb")).as("tnb"))
      val wAll = Window.partitionBy(lit(1))
      per.join(broadcast(w6tab), Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("avg_src", (-col("s6")).cast("double") / col("nb") / lit(1000000.0))
        .withColumn("avg_all", (-col("ts6")).cast("double") / col("tnb") / lit(1000000.0))
        .withColumn("excess6", greatest(lit(0L),
          least(lit(5000000L), Exact.scaled(col("avg_src") - col("avg_all"), 6))))
        .withColumn("unnorm", col("w6") * (lit(1000000L) + col("excess6")))
        .withColumn("tot_unnorm", sum(col("unnorm")).over(wAll)) // 20 rows
        .select(col("source"), col("nb").as("n_bigrams"),
          Exact.fix(col("avg_src"), 6).as("avg_nll"),
          (col("excess6").cast("double") / lit(1000000.0)).as("excess"),
          (col("w6").cast("double") / lit(1000000.0)).as("w_base"),
          (expr("CAST((unnorm * 1000000) DIV tot_unnorm AS BIGINT)").cast("double") /
            lit(1000000.0)).as("w_new"))
        .orderBy(col("source"))
    },

    // DSIR-style importance resampling (Data Selection via Importance
    // Resampling): score every raw document by how much its hashed
    // n-gram feature distribution looks like a TARGET sample vs the raw
    // corpus — importance weight = Σ_features log(p_target(f)/p_raw(f))
    // with add-1 smoothing — then keep each source's top quarter by
    // weight. Deterministic variant of the published method: the paper's
    // Gumbel-top-k draw is replaced by exact top-k per source (RNG-free
    // like everything in this module; the weights themselves are the
    // published estimator). Cross-engine exactness: both ln() terms are
    // scaled to 6-decimal longs SEPARATELY before the subtraction and all
    // aggregation is integer (the lm_score discipline), so ranking keys
    // are exact longs. Scale shape: the feature space is a fixed
    // 256-bucket table (broadcast), the two distribution estimates are
    // one hash-agg each over the token stream, per-doc scoring is one
    // groupBy(doc) + broadcast join, and the top-k is a per-source window
    // (the token_budget sharding pattern). Nothing corpus-sized crosses
    // a join; one corpus scan feeds everything via the checkpoint.
    "q_llm_dsir_select" -> { (s, dir) =>
      val nb = DsirBuckets
      // feature stream: hashed unigrams + bigrams folded into nb buckets
      val feats = docs(s, dir)
        .selectExpr("doc_id", "source", s"${sparkWordHashes("text")} AS wh")
        .selectExpr("doc_id", "source",
          s"explode(concat(transform(wh, h -> h % $nb), " +
            "CASE WHEN size(wh) >= 2 THEN " +
            "transform(sequence(1, size(wh) - 1), i -> " +
            s"(element_at(wh, i) * 131 + element_at(wh, i + 1)) % $P % $nb) " +
            "ELSE CAST(array() AS ARRAY<BIGINT>) END)) AS b")
        .localCheckpoint() // one tokenize feeds both estimates + scoring
      val tgt = feats.where(col("source") === lit(DsirTarget))
      val raw = feats.where(col("source") =!= lit(DsirTarget))
      val tc = tgt.groupBy(col("b")).agg(count(lit(1)).as("tc"))
      val rc = raw.groupBy(col("b")).agg(count(lit(1)).as("rc"))
      val tn = tgt.agg(count(lit(1)).as("tn"))
      val rn = raw.agg(count(lit(1)).as("rn"))
      val wBase = rc.join(tc, Seq("b"), "left")
        .crossJoin(broadcast(tn)).crossJoin(broadcast(rn))
      // two deterministic-ln kernels on one frame (distinct prefixes);
      // the importance weight is their exact integer difference
      val weights = Dln.withDln(
          Dln.withDln(wBase,
            s"(coalesce(tc, CAST(0 AS BIGINT)) + 1.0E0) / (tn + $nb)", "wt6",
            prefix = "_dt_"),
          s"(rc + 1.0E0) / (rn + $nb)", "wr6", prefix = "_dr_")
        .select(col("b"), (col("wt6") - col("wr6")).as("w6"))
      val scored = raw.groupBy(col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("m"))
        .join(broadcast(weights), Seq("b"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("m") * col("w6")).as("s6"), sum(col("m")).as("nf"))
      val w = Window.partitionBy(col("source")).orderBy(col("s6").desc, col("doc_id"))
      scored
        .withColumn("sel_rank", row_number().over(w).cast("long"))
        .withColumn("src_n", count(lit(1)).over(Window.partitionBy(col("source"))))
        .select(col("doc_id"), col("source"), col("nf").as("n_feats"),
          (col("s6").cast("double") / lit(1000000.0)).as("logratio"),
          col("sel_rank"),
          expr(s"CASE WHEN sel_rank * $DsirKeepFrac <= src_n " +
            "THEN 'selected' ELSE 'rejected' END").as("verdict"))
        .orderBy(col("doc_id"))
    })

  def oracleSql: Map[String, String] = {
    // Two literal-formatting traps: (a) DuckDB parses a bare decimal
    // literal as DECIMAL (even under CAST), which rounds differently from
    // the Spark Double at the last ulp — the trailing e0 forces DOUBLE
    // parsing; (b) Scala's Double.toString uses E-notation for small/huge
    // values, which would corrupt the suffix — BigDecimal.toPlainString
    // prints the double's exact decimal expansion, digit-for-digit
    // parseable and round-tripping to the identical double.
    val weightValues = mixtureWeights
      .map { case (s, w) =>
        s"('$s', ${new java.math.BigDecimal(w).toPlainString}e0)" }
      .mkString(", ")
    Map(
      // mirror of q_llm_repeat_plan: same grid + running-total window;
      // the ROWS frame is explicit on both sides and the order key
      // (epoch, q6 DESC, source) is unique, so the cumsum is identical
      "q_llm_repeat_plan" -> s"""
      WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents),
      feats AS (
        SELECT source, CAST(len(t) AS BIGINT) AS n_tok,
               ${Exact.sqlScaled("CAST(len(list_distinct(t)) AS DOUBLE) / len(t)", 6)} AS s6
        FROM toks),
      per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS epoch_tokens,
               CAST(sum(s6) AS BIGINT) // count(*) AS q6
        FROM feats GROUP BY source),
      b AS (SELECT CAST(7 * sum(epoch_tokens) AS BIGINT) // 4 AS budget FROM per),
      grid AS (
        SELECT p.*, b.budget, unnest(range(1, ${MaxEpochs + 1})) AS epoch
        FROM per p CROSS JOIN b),
      cum AS (
        SELECT *, sum(epoch_tokens) OVER (
          ORDER BY epoch, q6 DESC, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM grid),
      alloc AS (
        SELECT source, n_docs, epoch_tokens, q6,
               CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT)
                 AS epochs_alloc
        FROM cum GROUP BY source, n_docs, epoch_tokens, q6)
      SELECT source, n_docs, epoch_tokens, q6 / 1000000.0 AS quality,
             epochs_alloc, epochs_alloc * epoch_tokens AS tokens_alloc
      FROM alloc ORDER BY source""",

      "q_llm_chunk_windows" -> {
        val (w, st) = (ChunkW, ChunkS)
        val win = s"t[i * $st + 1 : i * $st + $w]"
        s"""
      WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      n AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tok, t FROM t0),
      ix AS (
        SELECT doc_id, t,
               unnest(range(0, (CASE WHEN n_tok <= $w THEN 0
                 ELSE (n_tok - $w + ${st - 1}) // $st END) + 1)) AS i
        FROM n),
      c AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               CAST(len($win) AS INT) AS n_words,
               ${duckCharHash(s"array_to_string($win, ' ')")} AS fp
        FROM ix)
      SELECT doc_id, chunk_idx, n_words, fp FROM c
      ORDER BY doc_id, chunk_idx"""
      },

      // the q_llm_dedup_groups closure + the split hash keyed by the
      // cluster canonical (singletons fall back to their own id)
      "q_llm_split_leakage_safe" -> s"""
      WITH RECURSIVE ${graft.llm.Dedup.verifiedPairCtes("documents")},
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      canon AS (
        SELECT a AS doc_id, least(a, min(b)) AS canonical
        FROM reach GROUP BY a),
      base AS (
        SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS canonical
        FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id),
      h AS (
        SELECT doc_id, canonical,
               ${duckCharHash("concat('split-v1:', CAST(canonical AS VARCHAR))")} % 100 AS bucket
        FROM base)
      SELECT doc_id, canonical,
             CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM h ORDER BY doc_id""",

      "q_llm_split_assign" -> s"""
      WITH b AS (
        SELECT source, len(string_split(text, ' ')) AS n_tok,
               ${duckCharHash("concat('split-v1:', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
        FROM documents)
      SELECT source,
             CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
             count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens
      FROM b GROUP BY 1, 2 ORDER BY source, split""",

      "q_llm_token_budget" -> s"""
      WITH b AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
               ${duckCharHash("concat('budget-v1:', CAST(doc_id AS VARCHAR))")} AS pri
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM b)
      SELECT doc_id, source, n_tok, cum
      FROM c WHERE cum <= $TokenBudget ORDER BY source, cum""",

      "q_llm_pack_sequences" -> s"""
      WITH t AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents),
      c AS (
        SELECT source, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t),
      ch AS (
        SELECT source, n_tok, cum,
               (cum - n_tok) // $CtxLen AS first_chunk,
               (cum - 1) // $CtxLen AS last_chunk
        FROM c),
      agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens,
               CAST(max(last_chunk) + 1 AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN last_chunk > first_chunk THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
               max(cum) AS cum_max
        FROM ch GROUP BY source)
      SELECT source, n_docs, tokens, n_chunks, n_boundary_docs,
             CAST(cum_max - (n_chunks - 1) * $CtxLen AS BIGINT) AS last_chunk_fill
      FROM agg ORDER BY source""",

      "q_llm_data_card" -> s"""
      WITH b AS (
        SELECT doc_id, source, lang, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
               ${duckCharHash("lower(trim(text))")} AS h
        FROM documents),
      duph AS (SELECT h FROM b GROUP BY h HAVING count(*) >= 2),
      b2 AS (
        SELECT b.doc_id, b.source, b.lang, b.n_chars, b.toks,
               CASE WHEN d.h IS NULL THEN 0 ELSE 1 END AS dup
        FROM b LEFT JOIN duph d ON b.h = d.h),
      dbl AS (SELECT * FROM b2
              UNION ALL
              SELECT doc_id, 'ALL' AS source, lang, n_chars, toks, dup FROM b2),
      med AS (
        SELECT source, toks AS median_toks FROM (
          SELECT source, toks, doc_id,
                 row_number() OVER (PARTITION BY source ORDER BY toks, doc_id) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM dbl) z
        WHERE rn = (n + 1) // 2),
      agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(dup) AS BIGINT) AS n_dup_docs,
               CAST(sum(toks) AS BIGINT) AS n_tokens,
               count(DISTINCT lang) AS n_langs,
               CAST(sum(n_chars) * 100 // count(*) AS BIGINT) AS avg_chars_x100
        FROM dbl GROUP BY source)
      SELECT a.source, a.n_docs, a.n_dup_docs, a.n_tokens, a.n_langs,
             a.avg_chars_x100, m.median_toks
      FROM agg a JOIN med m USING (source) ORDER BY a.source""",

      "q_llm_span_corruption" -> s"""
      WITH toks AS (
        SELECT doc_id, t.i - 1 AS pos,
               ${duckWordHash("concat('mask-v1:', CAST(doc_id AS VARCHAR), ':', CAST(t.i - 1 AS VARCHAR))")} AS h
        FROM documents, LATERAL (
          SELECT generate_subscripts(string_split(text, ' '), 1) AS i) t),
      nt AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
      starts AS (SELECT doc_id, pos, h FROM toks WHERE h % 20 = 0),
      covered AS (
        SELECT DISTINCT s.doc_id, u.mpos
        FROM starts s
        CROSS JOIN LATERAL (SELECT unnest(range(s.pos, s.pos + s.h // 20 % 3 + 1)) AS mpos) u
        JOIN nt ON nt.doc_id = s.doc_id
        WHERE u.mpos < nt.n_tok),
      isl AS (
        SELECT doc_id, mpos,
               CASE WHEN mpos - lag(mpos) OVER (PARTITION BY doc_id ORDER BY mpos) > 1
                    THEN 1 ELSE 0 END AS brk
        FROM covered),
      isl2 AS (
        SELECT doc_id, mpos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY mpos
                 ROWS UNBOUNDED PRECEDING) AS g
        FROM isl),
      agg AS (
        SELECT doc_id, count(*) AS n_masked,
               CAST(max(g) + 1 AS BIGINT) AS n_spans
        FROM isl2 GROUP BY doc_id)
      SELECT n.doc_id, n.n_tok,
             coalesce(a.n_spans, 0) AS n_spans,
             coalesce(a.n_masked, 0) AS n_masked,
             ${Exact.sqlFix("coalesce(a.n_masked, 0) * 100.0 / n.n_tok", 4)} AS mask_pct
      FROM nt n LEFT JOIN agg a USING (doc_id) ORDER BY n.doc_id""",

      "q_llm_mixture_stats" -> s"""
      WITH w(source, weight) AS (VALUES $weightValues),
      per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
      tot AS (SELECT sum(tokens) AS total_tokens FROM per)
      SELECT per.source, per.n_docs, per.tokens,
             ${Exact.sqlFix("CAST(per.tokens AS DOUBLE) / total_tokens", 6)} AS natural_share,
             w.weight,
             ${Exact.sqlFix("w.weight * total_tokens / per.tokens", 6)} AS repetition_factor
      FROM per JOIN w USING (source) CROSS JOIN tot
      ORDER BY per.source""",

      "q_llm_mixture_temperature" -> s"""
      WITH per AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok,
               ${duckWordHash("concat('temp-v1:', CAST(doc_id AS VARCHAR))")} % 1000000 AS h
        FROM documents),
      agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens
        FROM per GROUP BY source),
      tot AS (SELECT sum(tokens) AS total_tokens FROM agg),
      sh AS (
        SELECT source, n_docs, tokens,
               ${Exact.sqlScaled("CAST(tokens AS DOUBLE) / total_tokens", 6)} AS p6,
               ${Exact.sqlScaled("sqrt(CAST(tokens AS DOUBLE) / total_tokens)", 12)} AS s12
        FROM agg CROSS JOIN tot),
      den AS (SELECT sum(s12) AS den12 FROM sh),
      shares AS (
        SELECT source, n_docs, tokens, p6,
               (s12 * 1000000) // den12 AS q6,
               (((s12 * 1000000) // den12) * 1000000) // greatest(p6, 1) AS r6
        FROM sh CROSS JOIN den),
      outp AS (
        SELECT per.source,
               CAST(sum(r6 // 1000000 +
                        CASE WHEN h < r6 % 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS docs_out,
               CAST(sum((r6 // 1000000 +
                         CASE WHEN h < r6 % 1000000 THEN 1 ELSE 0 END) * n_tok) AS BIGINT) AS tokens_out
        FROM per JOIN shares ON per.source = shares.source
        GROUP BY per.source)
      SELECT shares.source, n_docs, tokens,
             p6 / 1000000.0 AS natural_share,
             q6 / 1000000.0 AS temp_share,
             r6 / 1000000.0 AS repetition,
             docs_out, tokens_out
      FROM shares JOIN outp ON shares.source = outp.source
      ORDER BY shares.source""",

      "q_llm_epoch_shards" -> s"""
      WITH b AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
      e AS (
        SELECT doc_id, n_tok, CAST(unnest(range(0, 3)) AS INT) AS epoch FROM b),
      sh AS (
        SELECT doc_id, n_tok, epoch,
               ${duckWordHash("concat('order-v1:', CAST(epoch AS VARCHAR), ':', " +
                 "CAST(doc_id AS VARCHAR))")} % 8 AS shard
        FROM e),
      agg AS (
        SELECT epoch, shard, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens
        FROM sh GROUP BY epoch, shard)
      SELECT epoch, shard, n_docs, tokens,
             ${Exact.sqlFix(
               "CAST(tokens AS DOUBLE) / (sum(tokens) OVER (PARTITION BY epoch))", 6)} AS tok_share
      FROM agg ORDER BY epoch, shard""",

      "q_llm_length_buckets" -> s"""
      WITH b AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
      w AS (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
                    WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                    WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
                    WHEN n_tok <= 1024 THEN 1024 ELSE 2048 END AS bucket_w
        FROM b),
      agg AS (
        SELECT bucket_w, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens
        FROM w GROUP BY bucket_w)
      SELECT bucket_w, n_docs, tokens, n_docs * bucket_w AS padded,
             ${Exact.sqlFix(
               "CAST(n_docs * bucket_w - tokens AS DOUBLE) * 100.0 / (n_docs * bucket_w)", 4)} AS waste_pct
      FROM agg ORDER BY bucket_w""",

      "q_llm_url_canonical" -> s"""
      WITH $duckUrlCtes
      SELECT doc_id, host, url,
             CAST(row_number() OVER (PARTITION BY url ORDER BY doc_id) AS INT) AS pos,
             count(*) OVER (PARTITION BY url) AS n_same,
             CASE WHEN row_number() OVER (PARTITION BY url ORDER BY doc_id) = 1
                  THEN 1 ELSE 0 END AS keep
      FROM canon ORDER BY doc_id""",

      "q_llm_host_stats" -> s"""
      WITH $duckUrlCtes,
      per AS (
        SELECT host, count(*) AS n_docs, count(DISTINCT url) AS n_pages
        FROM canon GROUP BY host),
      tot AS (SELECT sum(n_docs) AS total_docs FROM per)
      SELECT host, n_docs, n_pages,
             ${Exact.sqlFix("CAST(n_docs - n_pages AS DOUBLE) / n_docs", 6)} AS dup_rate,
             CASE WHEN n_docs * 20 > total_docs THEN 1 ELSE 0 END AS over_crawled
      FROM per CROSS JOIN tot ORDER BY host""",

      "q_llm_repetition" -> s"""
      WITH b AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               ${duckWordHashes("text")} AS wh
        FROM documents),
      c AS (
        SELECT doc_id,
               CAST(len(t) AS INT) AS n_tok,
               CAST(len(list_distinct(t)) AS INT) AS n_uniq,
               CASE WHEN len(wh) >= 3 THEN ${duckShingles("wh")}
                    ELSE CAST([] AS BIGINT[]) END AS sh
        FROM b),
      d AS (
        SELECT doc_id, n_tok, n_uniq,
               CAST(len(sh) AS INT) AS n_sh,
               CAST(len(list_distinct(sh)) AS INT) AS n_sh_uniq
        FROM c)
      SELECT doc_id, n_tok, n_uniq, n_sh, n_sh_uniq,
             ${Exact.sqlFix("CAST(n_tok - n_uniq AS DOUBLE) / n_tok", 6)} AS rep_word_ratio,
             ${Exact.sqlFix("CASE WHEN n_sh > 0 THEN CAST(n_sh - n_sh_uniq AS DOUBLE) / n_sh ELSE CAST(0 AS DOUBLE) END", 6)} AS rep_3gram_ratio,
             CASE WHEN 2 * (n_tok - n_uniq) >= n_tok THEN 'repetitive'
                  WHEN n_sh > 0 AND 5 * (n_sh - n_sh_uniq) >= n_sh THEN 'looping'
                  ELSE 'ok' END AS verdict
      FROM d ORDER BY doc_id""",

      "q_llm_filter_funnel" -> {
        val stops = funnelStops.map("'" + _ + "'").mkString("[", ", ", "]")
        s"""
      WITH sig AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS INT) AS n_words,
               CAST(length(text) AS INT) - CAST(len(string_split(text, ' ')) AS INT) + 1 AS len_adj,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
               CAST(len(list_intersect(string_split(text, ' '), $stops)) AS INT) AS n_stop
        FROM documents),
      fk AS (
        SELECT n_words,
               CASE WHEN lang <> 'en' THEN 'lang'
                    WHEN NOT (n_words BETWEEN 30 AND 1000) THEN 'length'
                    WHEN NOT (4 * n_words <= len_adj AND len_adj <= 10 * n_words) THEN 'wordlen'
                    WHEN NOT (3 * n_uniq >= n_words) THEN 'repetition'
                    WHEN NOT (n_stop >= 2) THEN 'stopwords' ELSE 'kept' END AS stage
        FROM sig),
      k AS (
        SELECT stage, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS tokens
        FROM fk GROUP BY stage),
      spine(stage_ord, stage) AS (VALUES
        (CAST(1 AS BIGINT), 'lang'), (2, 'length'), (3, 'wordlen'),
        (4, 'repetition'), (5, 'stopwords'), (6, 'kept')),
      j AS (
        SELECT spine.stage_ord, spine.stage,
               COALESCE(k.n_docs, 0) AS n_docs, COALESCE(k.tokens, 0) AS tokens
        FROM spine LEFT JOIN k USING (stage)),
      f AS (
        SELECT stage_ord, stage, n_docs, tokens,
               CAST(sum(n_docs) OVER (ORDER BY stage_ord
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS docs_in
        FROM j)
      SELECT stage_ord, stage, docs_in, n_docs, tokens,
             ${Exact.sqlFix("CASE WHEN docs_in = 0 THEN CAST(0 AS DOUBLE) " +
               "ELSE CAST(n_docs AS DOUBLE) * 100.0 / docs_in END", 4)} AS pct_of_in
      FROM f ORDER BY stage_ord"""
      },

      "q_llm_output_shards" -> s"""
      WITH b AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
               ${duckWordHash("concat('shard-v1:', CAST(doc_id AS VARCHAR))")} AS pri
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tok, pri,
               CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM b),
      a AS (
        SELECT source, doc_id, n_tok, pri,
               (cum - n_tok) // $ShardBudget AS shard_id
        FROM c),
      m AS (
        SELECT source, shard_id, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens,
               min(doc_id) AS doc_min, max(doc_id) AS doc_max,
               CAST(sum(pri) % $P AS BIGINT) AS member_hash
        FROM a GROUP BY source, shard_id)
      SELECT source, shard_id, n_docs, tokens, doc_min, doc_max, member_hash,
             ${Exact.sqlFix(s"CAST(tokens AS DOUBLE) * 100.0 / $ShardBudget", 4)} AS fill_pct
      FROM m ORDER BY source, shard_id""",

      "q_llm_curriculum" -> s"""
      WITH b AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
               ${duckWordHash("concat('curr-v1:', CAST(doc_id AS VARCHAR))")} AS h
        FROM documents),
      bounds AS (SELECT min(n_tok) AS mn, max(n_tok) AS mx FROM b),
      st AS (
        SELECT doc_id, n_tok, h,
               CAST((n_tok - mn) * $CurriculumStages // (mx - mn + 1) AS BIGINT) AS stage
        FROM b CROSS JOIN bounds),
      agg AS (
        SELECT stage, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens,
               CAST(min(n_tok) AS BIGINT) AS tok_min,
               CAST(max(n_tok) AS BIGINT) AS tok_max,
               CAST(sum(h % 1000003) % $P AS BIGINT) AS stage_fp
        FROM st GROUP BY stage)
      SELECT stage, n_docs, tokens, tok_min, tok_max, stage_fp,
             CAST(sum(tokens) OVER (ORDER BY stage
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM agg ORDER BY stage""",

      // mirror of q_llm_lm_score's oracle grouped by source, plus the
      // clipped first-order reweight in pure BIGINT arithmetic
      "q_llm_mixture_reweight" -> {
        val w6Values = mixtureWeights
          .map { case (src, w) => s"('$src', ${math.floor(w * 1000000.0 + 0.5).toLong})" }
          .mkString(", ")
        s"""
      WITH wtab(source, w6) AS (VALUES $w6Values),
      toks AS (SELECT source, ${duckWordHashes("text")} AS wh FROM documents),
      t2 AS (SELECT source, wh FROM toks WHERE len(wh) >= 2),
      bg AS (
        SELECT source, unnest(wh[1:len(wh)-1]) AS h1, unnest(wh[2:len(wh)]) AS h2
        FROM t2),
      bgs AS (SELECT source, h1, h2, count(*) AS m FROM bg GROUP BY 1, 2, 3),
      c2 AS (SELECT h1, h2, CAST(sum(m) AS BIGINT) AS c2 FROM bgs GROUP BY 1, 2),
      c1 AS (SELECT h1, CAST(sum(m) AS BIGINT) AS c1 FROM bgs GROUP BY 1),
      vocab AS (
        SELECT count(DISTINCT h) AS v FROM (SELECT unnest(wh) AS h FROM t2)),
      ${Dln.duckChain(
        "SELECT source, m, (c2 + 1.0E0) / (c1 + v) AS _dl_arg " +
          "FROM bgs JOIN c2 USING (h1, h2) JOIN c1 USING (h1), vocab",
        "terms", "t6", Seq("source", "m"))},
      per AS (
        SELECT source, CAST(sum(m * t6) AS BIGINT) AS s6,
               CAST(sum(m) AS BIGINT) AS nb
        FROM terms GROUP BY source),
      tot AS (
        SELECT CAST(sum(s6) AS BIGINT) AS ts6, CAST(sum(nb) AS BIGINT) AS tnb
        FROM per),
      x AS (
        SELECT source, nb, w6,
               CAST(-s6 AS DOUBLE) / nb / 1000000.0 AS avg_src,
               CAST(-ts6 AS DOUBLE) / tnb / 1000000.0 AS avg_all
        FROM per JOIN wtab USING (source) CROSS JOIN tot),
      y AS (
        SELECT source, nb, w6, avg_src,
               greatest(CAST(0 AS BIGINT), least(5000000,
                 ${Exact.sqlScaled("avg_src - avg_all", 6)})) AS excess6
        FROM x),
      z AS (
        SELECT source, nb, w6, avg_src, excess6,
               w6 * (1000000 + excess6) AS unnorm
        FROM y)
      SELECT source, nb AS n_bigrams,
             ${Exact.sqlFix("avg_src", 6)} AS avg_nll,
             excess6 / 1000000.0 AS excess,
             w6 / 1000000.0 AS w_base,
             ((unnorm * 1000000) // CAST(sum(unnorm) OVER () AS BIGINT)) / 1000000.0 AS w_new
      FROM z ORDER BY source"""
      },

      "q_llm_sample_stratified" -> {
        val thresholdValues = mixtureWeights
          .map { case (src, w) => s"('$src', ${math.floor(w * 50000.0).toLong})" }
          .mkString(", ")
        s"""
      WITH th(source, keep_below) AS (VALUES $thresholdValues),
      b AS (
        SELECT source, len(string_split(text, ' ')) AS n_tok,
               ${duckWordHash("concat('samp-v1:', CAST(doc_id AS VARCHAR))")} % 10000 AS h
        FROM documents)
      SELECT b.source, count(*) AS n_docs,
             CAST(sum(CASE WHEN h < keep_below THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN h < keep_below THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
             ${Exact.sqlFix("CAST(sum(CASE WHEN h < keep_below THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS kept_rate
      FROM b JOIN th USING (source)
      GROUP BY b.source ORDER BY b.source"""
      },

      "q_llm_cap_per_group" -> s"""
      WITH b AS (
        SELECT source, lang, doc_id, len(string_split(text, ' ')) AS n_tok,
               row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
        FROM documents)
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(CASE WHEN rn <= $CapPerGroup THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN rn <= $CapPerGroup THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM b GROUP BY source, lang ORDER BY source, lang""",

      // mirror of q_llm_dsir_select: identical bucketed feature stream,
      // each ln() scaled to 6-decimal longs before the subtraction
      "q_llm_dsir_select" -> s"""
      WITH toks AS (
        SELECT doc_id, source, ${duckWordHashes("text")} AS wh FROM documents),
      feats AS (
        SELECT doc_id, source, unnest(list_concat(
          list_transform(wh, h -> h % $DsirBuckets),
          CASE WHEN len(wh) >= 2 THEN
            list_transform(range(1, len(wh)), i ->
              (wh[i] * 131 + wh[i + 1]) % $P % $DsirBuckets)
          ELSE CAST([] AS BIGINT[]) END)) AS b
        FROM toks),
      tgt AS (SELECT b FROM feats WHERE source = '$DsirTarget'),
      rawf AS (SELECT doc_id, source, b FROM feats WHERE source <> '$DsirTarget'),
      tc AS (SELECT b, count(*) AS tc FROM tgt GROUP BY b),
      rc AS (SELECT b, count(*) AS rc FROM rawf GROUP BY b),
      tn AS (SELECT count(*) AS tn FROM tgt),
      rn AS (SELECT count(*) AS rn FROM rawf),
      ${Dln.duckChain(
        s"SELECT rc.b AS b, (coalesce(tc, 0) + 1.0E0) / (tn + $DsirBuckets) AS _dt_arg, " +
          s"(rc + 1.0E0) / (rn + $DsirBuckets) AS _rraw " +
          "FROM rc LEFT JOIN tc ON rc.b = tc.b, tn, rn",
        "wt", "wt6", Seq("b", "_rraw"), prefix = "_dt_")},
      ${Dln.duckChain(
        "SELECT b, wt6, _rraw AS _dr_arg FROM wt",
        "wr", "wr6", Seq("b", "wt6"), prefix = "_dr_")},
      w AS (SELECT b, wt6 - wr6 AS w6 FROM wr),
      m AS (
        SELECT doc_id, source, b, count(*) AS m FROM rawf GROUP BY 1, 2, 3),
      sc AS (
        SELECT doc_id, source, CAST(sum(m * w6) AS BIGINT) AS s6,
               CAST(sum(m) AS BIGINT) AS nf
        FROM m JOIN w USING (b) GROUP BY 1, 2),
      rk AS (
        SELECT doc_id, source, s6, nf,
               row_number() OVER (PARTITION BY source ORDER BY s6 DESC, doc_id) AS sel_rank,
               count(*) OVER (PARTITION BY source) AS src_n
        FROM sc)
      SELECT doc_id, source, nf AS n_feats,
             CAST(s6 AS DOUBLE) / 1000000.0 AS logratio,
             CAST(sel_rank AS BIGINT) AS sel_rank,
             CASE WHEN sel_rank * $DsirKeepFrac <= src_n
                  THEN 'selected' ELSE 'rejected' END AS verdict
      FROM rk ORDER BY doc_id""")
  }
}
