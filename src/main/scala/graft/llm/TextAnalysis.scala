package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.llm.XHash._
import graft.util.Exact

/** Text analysis over `documents` (north-star operator): language ID,
  * quality scoring, token counting, and content fingerprinting.
  *
  * Everything is a narrow per-row projection followed by (at most) one hash
  * aggregation — the cheapest possible shape at 100 TB: no joins, no
  * windows over the full table, filters/projections reach the parquet scan.
  * All arithmetic is cross-engine exact (integer counts, int/int division,
  * `Exact.fix` rounding) so the DuckDB oracle matches bit-for-bit.
  */
object TextAnalysis {

  /** Per-language marker-word lists for the n-gram/stopword lang-ID
    * heuristic. Alphabetical language order is the documented tie-break. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "den"),
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Per-doc add-1-smoothed bigram-LM totals `(doc_id, s6, nb)` — s6 the
    * scaled-long sum of per-bigram log-likelihood terms, nb the bigram
    * count. The q_llm_lm_score scoring core, factored so the CCNet
    * bucketing entry shares the exact operation order (the cross-engine
    * exactness contract — there is exactly one copy). Scale shape: one
    * token scan, per-doc bigram multiset agg (map-side combinable), two
    * slim count tables joined back on long keys, one per-doc agg — no
    * self-joins, no windows, no driver. */
  private[llm] def bigramNllPerDoc(s: SparkSession, dir: String): DataFrame = {
    // materialized once: referenced by bgd AND the vocab count — an
    // unmaterialized stream would re-tokenize the corpus per use
    val toks = docs(s, dir)
      .selectExpr("doc_id", s"${sparkWordHashes("text")} AS wh")
      .where(expr("size(wh) >= 2"))
      .localCheckpoint()
    // per-doc bigram multiset: (doc_id, h1, h2, m) — the repeated-bigram
    // collapse cuts both count-table inputs and the join fan-in.
    // Materialized once: c2, c1, and the scoring join all read it.
    val bgd = toks.selectExpr("doc_id",
        "explode(transform(sequence(1, size(wh) - 1), i -> " +
          "named_struct('h1', element_at(wh, i), 'h2', element_at(wh, i + 1)))) AS bg")
      .groupBy(col("doc_id"), col("bg.h1").as("h1"), col("bg.h2").as("h2"))
      .agg(count(lit(1)).as("m"))
      .localCheckpoint()
    val c2 = bgd.groupBy(col("h1"), col("h2")).agg(sum(col("m")).as("c2"))
    val c1 = bgd.groupBy(col("h1")).agg(sum(col("m")).as("c1"))
    val vocab = toks.selectExpr("explode(wh) AS h")
      .agg(countDistinct(col("h")).as("v"))
    // t6 via the deterministic integer-ln kernel ([[Dln]]): libm ln is
    // ulp-divergent across engines, and at sf1 term counts one boundary
    // flip per run is expected — the kernel makes the scaled long a
    // DEFINITION both engines compute identically
    Dln.withDln(
        bgd.join(c2, Seq("h1", "h2")).join(c1, Seq("h1"))
          .crossJoin(broadcast(vocab)),
        "(c2 + 1.0E0) / (c1 + v)", "t6")
      .groupBy(col("doc_id"))
      .agg(sum(col("m") * col("t6")).as("s6"), sum(col("m")).as("nb"))
  }

  private def sqlList(ws: Seq[String], duck: Boolean): String =
    ws.map("'" + _ + "'").mkString(if (duck) "[" else "array(", ", ", if (duck) "]" else ")")

  /** BPE training rounds for [[bpeTrainOf]] (`q_llm_bpe_train`). */
  val BpeRounds = 3

  /** Symbol boundary marker for the BPE segmentation encoding (unit
    * separator — cannot occur in the space-tokenized corpus words). Each
    * symbol is wrapped `<Sep>sym<Sep>`, so a segmented word is
    * `<Sep>s1<Sep><Sep>s2<Sep>…` and a symbol PAIR has the unique textual
    * form `<Sep>a<Sep><Sep>b<Sep>` — boundary-anchored, so `replace` can
    * never match across symbol boundaries or partial symbols. */
  private val Sep = "\u001f"

  /** Iterative BPE trainer: [[BpeRounds]] rounds of the real tokenizer
    * loop — count adjacent symbol pairs, pick the argmax (ties broken
    * lexicographically in both engines), merge it EVERYWHERE, re-segment,
    * recount. Re-segmentation is a single string `replace` per word of the
    * boundary-anchored pair pattern: SQL replace scans left-to-right,
    * replaces non-overlapping matches, and continues AFTER each
    * replacement in both engines — exactly BPE's leftmost-greedy merge
    * ('aaa' + merge (a,a) → [aa, a]), with no rescan of replaced output.
    * A merged symbol's wrapped form differs from any pair fragment, so
    * later rounds see true symbol sequences, not string accidents.
    *
    * Scale shape: the loop runs over DISTINCT words weighted by their
    * occurrence count — the standard tokenizer-training contraction: pair
    * counts over occurrences ≡ Σ_distinct-words count(w) × pairs-in-w
    * (exact integer identity, which is why the oracle's per-occurrence
    * unrolled SQL still hash-matches), so each round's projection and
    * replace touch vocabulary-sized tables, not corpus-sized ones. Each
    * round is then one projection plus one hash-aggregated weighted pair
    * count collapsing to a 1-row broadcast argmax — map-side combinable,
    * no joins wider than the (tiny) top-1 attach, the per-round table
    * goes through the Checkpointer knob. This is the
    * [[graft.llm.Similarity.kmeansCentroids]] Lloyd-round pattern applied
    * to tokenizer training; the oracle unrolls the identical rounds as a
    * CTE chain. */
  private[graft] def bpeTrainOf(d: DataFrame, rounds: Int = BpeRounds,
                                ckpt: graft.util.Checkpointer =
                                  graft.util.Checkpointer.Local): DataFrame = {
    val syms = s"split(substring(seg, 2, length(seg) - 2), '$Sep$Sep')"
    var seg = ckpt(d
      .selectExpr("explode(split(text, ' ')) AS w")
      .where(expr("length(w) >= 2"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .selectExpr("c", s"concat('$Sep', array_join(split(w, ''), '$Sep$Sep'), '$Sep') AS seg"))
    val tops = (1 to rounds).map { r =>
      val top = ckpt(seg
        .selectExpr("c", s"$syms AS sy").where(expr("size(sy) >= 2"))
        .selectExpr("c", "explode(transform(sequence(1, size(sy) - 1), i -> " +
          "named_struct('lhs', element_at(sy, i), 'rhs', element_at(sy, i + 1)))) AS z")
        .selectExpr("c", "z.lhs AS lhs", "z.rhs AS rhs")
        .groupBy(col("lhs"), col("rhs")).agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs")).limit(1))
      seg = ckpt(seg.crossJoin(broadcast(top))
        .selectExpr("c", s"replace(seg, concat('$Sep', lhs, '$Sep$Sep', rhs, '$Sep'), " +
          s"concat('$Sep', lhs, rhs, '$Sep')) AS seg"))
      top.selectExpr(s"CAST($r AS INT) AS rnd", "lhs", "rhs",
        "concat(lhs, rhs) AS merged", "n")
    }
    tops.reduce(_ unionByName _).orderBy(col("rnd"))
  }

  /** Tokenizer APPLICATION: run the corpus through the [[bpeTrainOf]]
    * merge rounds and report per-source encoding stats (words, emitted
    * tokens, chars, tokens/word) — the train→encode round trip every
    * tokenizer pipeline ships. The merge argmaxes are corpus-global
    * (identical to the trainer's); the per-word segmentation rides along
    * through the same boundary-anchored replaces, so encoding costs
    * nothing beyond the training scans plus one final aggregation. */
  private[graft] def bpeEncodeOf(d: DataFrame, rounds: Int = BpeRounds,
                                 ckpt: graft.util.Checkpointer =
                                   graft.util.Checkpointer.Local,
                                 key: String = "source"): DataFrame = {
    val syms = s"split(substring(seg, 2, length(seg) - 2), '$Sep$Sep')"
    // distinct (source, word) weighted by occurrence count — the same
    // vocabulary contraction as the trainer (see [[bpeTrainOf]]); the
    // merge argmaxes weight by the GLOBAL count so they equal the
    // trainer's, and the per-source stats de-contract at the end
    var seg = ckpt(d
      .selectExpr(key, "explode(split(text, ' ')) AS w")
      .where(expr("length(w) >= 2"))
      .groupBy(col(key), col("w")).agg(count(lit(1)).as("c"))
      .selectExpr(key, "w", "c",
        s"concat('$Sep', array_join(split(w, ''), '$Sep$Sep'), '$Sep') AS seg"))
    for (_ <- 1 to rounds) {
      val top = ckpt(seg
        .selectExpr("c", s"$syms AS sy").where(expr("size(sy) >= 2"))
        .selectExpr("c", "explode(transform(sequence(1, size(sy) - 1), i -> " +
          "named_struct('lhs', element_at(sy, i), 'rhs', element_at(sy, i + 1)))) AS z")
        .selectExpr("c", "z.lhs AS lhs", "z.rhs AS rhs")
        .groupBy(col("lhs"), col("rhs")).agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs")).limit(1))
      seg = ckpt(seg.crossJoin(broadcast(top))
        .selectExpr(key, "w", "c",
          s"replace(seg, concat('$Sep', lhs, '$Sep$Sep', rhs, '$Sep'), " +
            s"concat('$Sep', lhs, rhs, '$Sep')) AS seg"))
    }
    seg.selectExpr(key, "c", "c * length(w) AS n_chars_w", s"c * size($syms) AS n_sym")
      .groupBy(col(key))
      .agg(sum(col("c")).as("n_words"),
        sum(col("n_sym")).as("n_tokens"),
        sum(col("n_chars_w")).as("n_chars"))
      .withColumn("tokens_per_word",
        Exact.fix(col("n_tokens").cast("double") / col("n_words"), 6))
      .orderBy(col(key))
  }

  /** Oracle mirror of [[bpeEncodeOf]] keyed by `key`: the K-round
    * merge-replace chain over per-occurrence words (the per-occurrence ≡
    * weighted-vocabulary identity — PERF #36), ending in
    * `agg(key, n_words, n_tokens, n_chars)`. Shared by the per-source
    * encode entry and the per-language fertility entry. */
  private def duckBpeEncodeCtes(key: String): String = {
    val roundCtes = (1 to BpeRounds).map { r =>
      s"""
      y$r AS (SELECT string_split(seg[2:length(seg) - 1], '$Sep$Sep') AS sy FROM s${r - 1}),
      p$r AS (SELECT unnest(sy[1:len(sy) - 1]) AS lhs, unnest(sy[2:len(sy)]) AS rhs
              FROM y$r WHERE len(sy) >= 2),
      c$r AS (SELECT lhs, rhs, count(*) AS n FROM p$r GROUP BY lhs, rhs),
      t$r AS (SELECT lhs, rhs, n FROM c$r ORDER BY n DESC, lhs, rhs LIMIT 1),
      s$r AS (SELECT $key, w, replace(seg, '$Sep' || lhs || '$Sep$Sep' || rhs || '$Sep',
                             '$Sep' || lhs || rhs || '$Sep') AS seg FROM s${r - 1}, t$r)"""
    }.mkString(",")
    s"""w0 AS (
        SELECT $key, unnest(string_split(text, ' ')) AS w FROM documents),
      s0 AS (
        SELECT $key, w,
               '$Sep' || array_to_string(string_split(w, ''), '$Sep$Sep') || '$Sep' AS seg
        FROM w0 WHERE length(w) >= 2),$roundCtes,
      fin AS (
        SELECT $key, CAST(length(w) AS INT) AS n_chars_w,
               CAST(len(string_split(seg[2:length(seg) - 1], '$Sep$Sep')) AS INT) AS n_sym
        FROM s$BpeRounds),
      agg AS (
        SELECT $key, count(*) AS n_words,
               CAST(sum(n_sym) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars_w) AS BIGINT) AS n_chars
        FROM fin GROUP BY $key)"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tokenizer train -> encode round trip (see [[bpeEncodeOf]]).
    "q_llm_bpe_encode" -> ((s, dir) => bpeEncodeOf(docs(s, dir))),

    // Tokenizer FERTILITY parity by language: the same train->encode
    // chain keyed by lang, plus each language's tokens-per-word relative
    // to the cheapest language (fertility_ratio). The published tokenizer-
    // fairness audit: a BPE vocabulary trained on a mixed corpus encodes
    // under-represented languages into more tokens per word, which taxes
    // their effective context length and training compute; this table is
    // the go/no-go check before freezing a vocabulary. Exactness: the
    // ratio divides two already-exactified doubles (identical longs →
    // identical IEEE divisions); the window min runs over one row per
    // language.
    "q_llm_bpe_fertility" -> { (s, dir) =>
      val wAll = Window.partitionBy(lit(1)) // one row per language
      bpeEncodeOf(docs(s, dir), key = "lang")
        .withColumn("min_tpw", min(col("tokens_per_word")).over(wAll))
        .withColumn("fertility_ratio",
          Exact.fix(col("tokens_per_word") / col("min_tpw"), 6))
        .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
          col("tokens_per_word"), col("fertility_ratio"))
        .orderBy(col("lang"))
    },

    // Language ID: distinct-token overlap with per-language marker sets;
    // prediction = argmax hits (ties alphabetical, zero hits -> 'und').
    // Output is the (actual, predicted) confusion table.
    "q_llm_lang_id" -> { (s, dir) =>
      val hitCols = markers.map { case (l, ws) =>
        s"size(array_intersect(td, ${sqlList(ws, duck = false)})) AS h_$l"
      }
      val g = markers.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
      val pred = "CASE WHEN " + g + " = 0 THEN 'und' " +
        markers.map { case (l, _) => s"WHEN h_$l = $g THEN '$l'" }.mkString(" ") + " END"
      docs(s, dir)
        .selectExpr(Seq("doc_id", "lang", "array_distinct(split(text, ' ')) AS td"): _*)
        .selectExpr(Seq("doc_id", "lang") ++ hitCols: _*)
        .selectExpr("lang", s"$pred AS predicted")
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },

    // Code-switching / language-consistency audit: the whole-doc lang-ID
    // verdict can hide a doc that is half one language, half another (web
    // crawls interleave boilerplate, quotes, and embedded translations) —
    // the standard production check runs the SAME lang-ID heuristic per
    // SEGMENT (here fixed 20-token windows, the line-level stand-in for
    // this newline-free corpus) and scores each doc by how many segments
    // agree with its whole-doc prediction. Pure per-row projection + one
    // hash aggregation (segments explode locally, never join) — the
    // cheapest possible shape at 100 TB, like every entry in this file.
    "q_llm_code_switch" -> { (s, dir) =>
      val docHits = markers.map { case (l, ws) =>
        s"size(array_intersect(td, ${sqlList(ws, duck = false)})) AS dh_$l"
      }
      val segHits = markers.map { case (l, ws) =>
        s"size(array_intersect(sd, ${sqlList(ws, duck = false)})) AS sh_$l"
      }
      val gd = markers.map { case (l, _) => s"dh_$l" }.mkString("greatest(", ", ", ")")
      val gs = markers.map { case (l, _) => s"sh_$l" }.mkString("greatest(", ", ", ")")
      val predDoc = "CASE WHEN " + gd + " = 0 THEN 'und' " +
        markers.map { case (l, _) => s"WHEN dh_$l = $gd THEN '$l'" }.mkString(" ") + " END"
      val predSeg = "CASE WHEN " + gs + " = 0 THEN 'und' " +
        markers.map { case (l, _) => s"WHEN sh_$l = $gs THEN '$l'" }.mkString(" ") + " END"
      docs(s, dir)
        .selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr("doc_id", "array_distinct(t) AS td",
          "posexplode(transform(sequence(0, (size(t) - 1) DIV 20), " +
            "i -> array_distinct(slice(t, i * 20 + 1, 20)))) AS (si, sd)")
        .selectExpr(Seq("doc_id") ++ docHits ++ segHits: _*)
        .selectExpr("doc_id", s"$predDoc AS pred_doc", s"$predSeg AS pred_seg")
        .groupBy(col("doc_id"), col("pred_doc"))
        .agg(count(lit(1)).as("n_seg"),
          sum(when(col("pred_seg") === col("pred_doc"), 1L).otherwise(0L)).as("n_agree"),
          sum(when(col("pred_seg") === "und", 1L).otherwise(0L)).as("n_und"))
        .withColumn("switch_ppm", expr("(n_seg - n_agree) * 1000000 DIV n_seg"))
        .withColumn("verdict", expr("CASE WHEN n_agree = n_seg THEN 'uniform' " +
          "WHEN n_agree * 5 >= n_seg * 4 THEN 'mostly' ELSE 'switched' END"))
        .orderBy(col("doc_id"))
    },

    // Quality scoring: per-doc token stats, type-token ratio, stopword
    // ratio, mean word length, composite score and band.
    "q_llm_quality" -> { (s, dir) =>
      val stops = sqlList(markers.flatMap(_._2).distinct, duck = false)
      docs(s, dir)
        .selectExpr("doc_id", "length(text) AS n_chars_txt", "split(text, ' ') AS t")
        .selectExpr("doc_id", "n_chars_txt",
          "size(t) AS n_tok",
          "size(array_distinct(t)) AS n_uniq",
          s"size(filter(t, w -> array_contains($stops, w))) AS n_stop")
        .selectExpr("doc_id", "n_tok", "n_uniq",
          "CAST(n_uniq AS DOUBLE) / n_tok AS ttr",
          "CAST(n_chars_txt - n_tok + 1 AS DOUBLE) / n_tok AS mean_wlen",
          "CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio")
        .selectExpr("doc_id", "n_tok", "n_uniq", "ttr", "mean_wlen", "stop_ratio",
          "0.4 * ttr + 0.3 * stop_ratio + 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS score_raw")
        .select(col("doc_id"), col("n_tok"), col("n_uniq"),
          Exact.fix(col("ttr"), 6).as("ttr"),
          Exact.fix(col("mean_wlen"), 6).as("mean_wlen"),
          Exact.fix(col("stop_ratio"), 6).as("stop_ratio"),
          Exact.fix(col("score_raw"), 6).as("score"),
          expr("CASE WHEN score_raw >= 0.5 THEN 'high' WHEN score_raw >= 0.35 THEN 'medium' ELSE 'low' END").as("band"))
        .orderBy(col("doc_id"))
    },

    // PMI collocation mining: adjacent word pairs ranked by pointwise
    // mutual information — the association measure that separates "of
    // the" (frequent but independent) from true collocations whose joint
    // count beats the product of their marginals. Ranking uses the exact
    // integer monotone transform of PMI, score = c_xy * N * 1e6 DIV
    // (c_x * c_y) (log is monotone — the RANK needs no float log, so the
    // oracle matches bit-for-bit). Distinct from q_llm_bpe_pairs, which
    // ranks by RAW pair count. Shape: one bigram explode (linear in
    // tokens), two hash aggs, two broadcast-size marginal joins keyed by
    // word, one global top-k (TakeOrdered). Integer bound: the product
    // is < c_x·c_y·1e6 ≤ tokens²·1e6 — fine through billions of tokens;
    // at trillion-token scale rescale to c_xy*1e6 DIV c_x first (same
    // determinism, looser precision).
    "q_llm_pmi_terms" -> { (s, dir) =>
      val toks = docs(s, dir)
        .selectExpr("split(text, ' ') AS t").where(expr("size(t) >= 2"))
        .localCheckpoint() // one tokenize feeds unigrams AND bigrams
      val uni = toks.selectExpr("explode(t) AS w")
        .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      val bi = toks
        .selectExpr("explode(arrays_zip(slice(t, 1, size(t) - 1), " +
          "slice(t, 2, size(t) - 1))) AS p")
        .selectExpr("p.`0` AS w1", "p.`1` AS w2")
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
        .where(col("c_xy") >= 5)
      val n = bi.agg(sum(col("c_xy")).as("n_bigrams"))
      bi.join(uni.select(col("w").as("w1"), col("c_w").as("c_x")), "w1")
        .join(uni.select(col("w").as("w2"), col("c_w").as("c_y")), "w2")
        .crossJoin(broadcast(n))
        .selectExpr("w1", "w2", "c_xy",
          "c_xy * n_bigrams * 1000000 DIV (c_x * c_y) AS pmi_score")
        .orderBy(col("pmi_score").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // Quality-threshold sweep (the cutoff-selection planner): before
    // committing to a quality cut, a pipeline owner wants the whole
    // tradeoff curve — cut at score bucket t, keep how many docs/tokens?
    // The corpus is bucketed by VALUE (s6 * 10 DIV 1e6+1 — ten fixed
    // integer score bands, NOT population ntile, which would need a
    // corpus-wide single-partition window), aggregated per bucket, and
    // the keep-at-cut columns are a reverse running total over the
    // 10-row bucket table. A 0..9 spine left-join keeps empty buckets
    // reporting. Scale shape: one scan + one 10-group hash agg; the
    // window touches 10 rows no matter the corpus size. All arithmetic
    // integer/exact (scaled-long score, DIV bucketing, ppm percentage).
    "q_llm_quality_sweep" -> { (s, dir) =>
      val stops = sqlList(markers.flatMap(_._2).distinct, duck = false)
      val byBucket = docs(s, dir)
        .selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr("size(t) AS n_tok", "size(array_distinct(t)) AS n_uniq",
          s"size(filter(t, w -> array_contains($stops, w))) AS n_stop")
        .selectExpr("CAST(n_tok AS BIGINT) AS n_tok",
          "0.4 * (CAST(n_uniq AS DOUBLE) / n_tok) " +
            "+ 0.3 * (CAST(n_stop AS DOUBLE) / n_tok) " +
            "+ 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS score_raw")
        .select(col("n_tok"), Exact.scaled(col("score_raw"), 6).as("s6"))
        .selectExpr("n_tok", "least(9L, greatest(0L, s6 * 10 DIV 1000001)) AS bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val spine = s.range(10).select(col("id").as("bucket"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      spine.join(byBucket, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
        .withColumn("docs_kept", sum(col("n_docs")).over(w))
        .withColumn("tokens_kept", sum(col("n_tokens")).over(w))
        .withColumn("total_tokens", sum(col("n_tokens")).over(wAll))
        .selectExpr("bucket", "n_docs", "n_tokens", "docs_kept", "tokens_kept",
          "tokens_kept * 1000000 DIV total_tokens AS kept_ppm")
        .orderBy(col("bucket"))
    },

    // Character-entropy quality signal: per-doc Shannon entropy of the
    // character distribution — the cheap stand-in for compression-ratio
    // filtering (gzip-ratio quality gates in published pipelines; gzip
    // itself isn't cross-engine-reproducible, char entropy is): binary
    // junk scores anomalously high, looping/padded generator output
    // anomalously low, prose sits in a narrow band. H = ln(n) −
    // (Σ n_c·ln(n_c))/n with every ln term scaled to a 6-decimal long
    // BEFORE aggregation (the lm_score discipline — sums of longs are
    // order-independent, so partition count can't change the answer) and
    // the verdict boundary cross-multiplied to pure integers
    // (ln_n6·n − s6 < 2e6·n ⇔ H < 2 nats). Shape: one char explode +
    // two hash aggs — linear in corpus chars, no joins.
    "q_llm_char_entropy" -> { (s, dir) =>
      val cc = docs(s, dir)
        .selectExpr("doc_id", "explode(split(text, '')) AS ch")
        .groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("nc"))
      val agg = Dln.withDln(cc, "CAST(nc AS DOUBLE)", "t6")
        .groupBy(col("doc_id"))
        .agg(sum(col("nc")).as("n"),
          count(lit(1)).as("n_distinct_chars"),
          sum(col("nc") * col("t6")).as("s6"))
      Dln.withDln(agg, "CAST(n AS DOUBLE)", "ln_n6")
        .select(col("doc_id"), col("n").as("n_chars_txt"), col("n_distinct_chars"),
          Exact.fix((col("ln_n6").cast("double") - col("s6").cast("double") / col("n"))
            / lit(1000000.0), 6).as("entropy"),
          expr("CASE WHEN ln_n6 * n - s6 < 2000000 * n THEN 'flag' ELSE 'ok' END")
            .as("verdict"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style heuristic rule battery (the published quality-filter
    // shape: doc-length window, mean-word-length window, symbol ratio,
    // alphabetic-word fraction, minimum distinct stop words) — every
    // verdict is an INTEGER cross-multiplied inequality (10·n_ell ≤
    // n_words instead of a float ratio threshold), so the keep/drop
    // boundary cannot diverge across engines. One scan, no joins; the
    // per-rule booleans ride along for the filter-audit report.
    "q_llm_gopher_rules" -> { (s, dir) =>
      val stops = sqlList(markers.flatMap(_._2).distinct, duck = false)
      docs(s, dir)
        .selectExpr("doc_id", "length(text) AS len_txt", "split(text, ' ') AS t",
          "CAST((length(text) - length(replace(text, '...', ''))) DIV 3 AS BIGINT) AS n_ell")
        .selectExpr("doc_id", "n_ell",
          "size(t) AS n_words",
          "len_txt - size(t) + 1 AS len_adj",
          "size(filter(t, w -> w rlike '[a-z]')) AS n_alpha",
          s"size(array_intersect(t, $stops)) AS n_stop_distinct")
        .selectExpr("doc_id", "n_words", "n_ell", "n_alpha", "n_stop_distinct",
          "n_words >= 50 AND n_words <= 100000 AS r_words",
          "3 * n_words <= len_adj AND len_adj <= 10 * n_words AS r_wlen",
          "10 * n_ell <= n_words AS r_symbol",
          "5 * n_alpha >= 4 * n_words AS r_alpha",
          "n_stop_distinct >= 2 AS r_stop")
        .selectExpr("doc_id", "n_words", "n_ell", "n_alpha", "n_stop_distinct",
          "r_words", "r_wlen", "r_symbol", "r_alpha", "r_stop",
          "CASE WHEN r_words AND r_wlen AND r_symbol AND r_alpha AND r_stop " +
            "THEN 'keep' ELSE 'drop' END AS verdict")
        .orderBy(col("doc_id"))
    },

    // Token counting per source: whitespace tokens vs BPE-ish regex tokens
    // (letter runs / digit runs / single punctuation), exact ratios.
    "q_llm_token_stats" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("source", "length(text) AS len_txt",
          "size(split(text, ' ')) AS n_ws",
          raw"size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS n_bpe")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_ws")).as("ws_tokens"),
          sum(col("n_bpe")).as("bpe_tokens"),
          (sum(col("len_txt")).cast("double") / sum(col("n_ws"))).as("chars_per_ws_token"))
        .withColumn("chars_per_ws_token", Exact.fix(col("chars_per_ws_token"), 6))
        .orderBy(col("source"))),

    // Content fingerprinting: rolling char-polynomial hash of the full text
    // plus a 64-char-prefix hash; collision count per fingerprint. Uses the
    // native codegen kernel (graft.functions.CharPolyHash) — same value as
    // the SQL aggregate(split(...)) form, without the interpreted lambda.
    "q_llm_fingerprint" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id",
          "graft_charhash(text) AS fp",
          "graft_charhash(substring(text, 1, 64)) AS fp_prefix")
        .withColumn("n_same_fp", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .orderBy(col("doc_id"))
    },

    // Count-min-sketch heavy hitters: a 3×1024 integer sketch of the
    // corpus word-frequency distribution, then the top-20 true-frequency
    // words audited against their sketch estimates (est = min over the 3
    // rows; always >= truth, the CMS guarantee — `overcount` shows the
    // collision error actually incurred). The sketch is the 100 TB
    // artifact: fixed 3×1024 cells regardless of corpus size, built by
    // one token scan + one hash agg (counts are sums, so partial sketches
    // merge associatively across partitions/days), then served as a
    // broadcast. Every hash is the shared affine family (XHash.A/B mod
    // P), so the oracle reproduces the sketch cell-for-cell.
    "q_llm_heavy_hitters" -> { (s, dir) =>
      val ex = docs(s, dir)
        .selectExpr(s"explode(${sparkWordHashes("text")}) AS h")
        .localCheckpoint() // feeds the sketch build AND the truth counts
      val rows = 3
      val bucketsOf = (r: Int) => s"(h * ${A(r)} + ${B(r)}) % $P % 1024"
      val sketch = ex
        .selectExpr(s"explode(array(${(0 until rows).map(r =>
          s"named_struct('r', $r, 'b', ${bucketsOf(r)})").mkString(", ")})) AS z")
        .groupBy(col("z.r").as("r"), col("z.b").as("b"))
        .agg(count(lit(1)).as("cell"))
      val truth = ex.groupBy(col("h")).agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("h")).limit(20)
      val probes = truth.selectExpr("h", "true_n",
        s"explode(array(${(0 until rows).map(r =>
          s"named_struct('r', $r, 'b', ${bucketsOf(r)})").mkString(", ")})) AS z")
        .select(col("h"), col("true_n"), col("z.r").as("r"), col("z.b").as("b"))
      probes.join(broadcast(sketch), Seq("r", "b"))
        .groupBy(col("h"), col("true_n"))
        .agg(min(col("cell")).as("est_n"))
        .selectExpr("h", "true_n", "est_n", "est_n - true_n AS overcount")
        .orderBy(col("true_n").desc, col("h"))
    },

    // Text normalization (the canonical pre-dedup pass): lowercase, map
    // every non-[a-z0-9 ] char to a space, collapse space runs, trim.
    // Output carries before/after lengths, the removal ratio, and the
    // fingerprint of the NORMALIZED text with its collision count — i.e.
    // normalization-equivalent dedup for free ("Hello,  World!" and
    // "hello world" collide after normalization, not before). One scan,
    // codegen regexes + the charhash kernel; no joins.
    "q_llm_normalize" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "length(text) AS len_raw",
          "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' ')) AS norm")
        .selectExpr("doc_id", "len_raw", "length(norm) AS len_norm",
          "graft_charhash(norm) AS fp_norm")
        // zero guard: an empty doc divides by len_raw=0 — NaN in Spark but
        // setting-dependent in DuckDB, a latent cross-engine hash split;
        // define empty docs as 0% removed identically on both sides
        .withColumn("removed_pct", Exact.fix(expr(
          "CASE WHEN len_raw = 0 THEN CAST(0.0 AS DOUBLE) " +
            "ELSE CAST(len_raw - len_norm AS DOUBLE) * 100.0 / len_raw END"), 4))
        .withColumn("n_same_norm", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp_norm"))))
        .orderBy(col("doc_id"))
    },

    // Hash-feature linear classifier (the fastText-style quality-filter
    // shape): each token hashes into one of 256 feature buckets; bucket b
    // carries a fixed deterministic integer weight in [-1000, 1000]
    // (derived from the shared affine family, so the oracle reproduces the
    // whole weight table without shipping it); doc score = Σ token
    // weights, verdict = sign. In production the weights come from a
    // trained model — the ENGINE-side contract (hash → bucket → weight
    // lookup → integer sum per doc, one explode + one hash agg, no joins,
    // no floats until the final margin division) is exactly this plan.
    "q_llm_classifier" -> { (s, dir) =>
      val w = s"(((h % 256) * ${A(1)} + ${B(1)}) % $P) % 2001 - 1000"
      docs(s, dir)
        .selectExpr("doc_id", s"explode(${sparkWordHashes("text")}) AS h")
        .selectExpr("doc_id", s"$w AS w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("score"))
        .withColumn("margin", Exact.fix(col("score").cast("double") / col("n_tok"), 4))
        .withColumn("verdict", expr("CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END"))
        .orderBy(col("doc_id"))
    },

    // Iterative BPE training (see [[bpeTrainOf]]): K real merge rounds —
    // argmax pair, merge everywhere, re-segment, recount — the loop
    // q_llm_bpe_pairs below runs one round of. Output = the learned merge
    // table (round, lhs, rhs, merged symbol, count).
    "q_llm_bpe_train" -> ((s, dir) => bpeTrainOf(docs(s, dir))),

    // BPE merge discovery (the first tokenizer-training iteration): count
    // every adjacent character pair inside every word across the corpus;
    // the top pair is BPE's first merge, and iterating this exact
    // aggregation IS the training loop — q_llm_bpe_train above runs it
    // for real. One scan, two explodes, one hash
    // agg + partial top-k — the shape repeats per merge round at 100 TB,
    // so the engine-side contract (map-side combinable pair counts, full
    // tie-broken ordering) is what matters.
    "q_llm_bpe_pairs" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("explode(split(text, ' ')) AS w")
        .where(expr("length(w) >= 2"))
        .selectExpr("explode(transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))) AS pair")
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)),

    // Vocabulary coverage (tokenizer planning): rank whole words by
    // corpus frequency and report each top-50 word's CUMULATIVE share of
    // all token occurrences — the curve that decides vocab size (where
    // it flattens, subword tokenization takes over). One token scan +
    // one hash agg; the ranked cumsum runs over the (tiny) aggregated
    // table, never the corpus.
    "q_llm_vocab_coverage" -> { (s, dir) =>
      val W = org.apache.spark.sql.expressions.Window
      val counts = docs(s, dir)
        .selectExpr("explode(split(text, ' ')) AS w")
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"))
      counts.crossJoin(broadcast(tot))
        .withColumn("rank", row_number().over(
          W.orderBy(col("n").desc, col("w"))).cast("int"))
        .where(col("rank") <= 50)
        .withColumn("cum_n", sum(col("n")).over(
          W.orderBy(col("rank")).rowsBetween(W.unboundedPreceding, W.currentRow)))
        .select(col("rank"), col("w").as("word"), col("n"),
          Exact.fix(col("cum_n").cast("double") * lit(100.0) / col("total"), 4)
            .as("cum_pct"))
        .orderBy(col("rank"))
    },

    // Bloom-filter membership (the "have we crawled this before?" gate):
    // a 2048-bit filter over the fingerprints of the docs from sources
    // src0-src9, stored as 64 words of 32 bits (32-bit shifts only — a
    // 63-bit shift's sign behavior is not worth cross-engine risk), k=3
    // probes from the shared affine family. Probe docs (src10-src19 plus
    // any cross-source duplicates) test all 3 bits against the broadcast
    // filter and are audited against TRUE membership (an fp equi-join):
    // outcome ∈ {tp, fp, tn} — 'fn' is structurally impossible (the Bloom
    // guarantee; the oracle proves it by producing none either). The
    // filter is the 100 TB artifact: fixed 64 rows regardless of corpus
    // size, built by one scan + one bit_or agg (associative ⇒ partial
    // filters merge across partitions/days), served as a broadcast.
    "q_llm_bloom" -> { (s, dir) =>
      val d = docs(s, dir)
        .selectExpr("doc_id", "source", "graft_charhash(text) AS fp")
        .localCheckpoint() // feeds build, probe, and truth sides
      val isSeen = "CAST(substring(source, 4) AS INT) < 10"
      val posOf = (r: Int) => s"(fp * ${A(r)} + ${B(r)}) % $P % 2048"
      val probesOf = (0 until 3).map(r =>
        s"named_struct('w', ${posOf(r)} DIV 32, 'b', ${posOf(r)} % 32)")
      val words = d.where(expr(isSeen))
        .selectExpr(s"explode(array(${probesOf.mkString(", ")})) AS z")
        .groupBy(col("z.w").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), z.b))").as("wv"))
      val seenFps = d.where(expr(isSeen)).select(col("fp")).distinct()
        .withColumn("true_member", lit(true))
      val probes = d.where(expr(s"NOT ($isSeen)"))
        .selectExpr("doc_id", "fp", s"explode(array(${probesOf.mkString(", ")})) AS z")
        .select(col("doc_id"), col("fp"), col("z.w").as("w"), col("z.b").as("b"))
      probes.join(broadcast(words), Seq("w"), "left")
        .withColumn("hit", expr("(coalesce(wv, CAST(0 AS BIGINT)) & shiftleft(CAST(1 AS BIGINT), b)) != 0"))
        .groupBy(col("doc_id"), col("fp"))
        .agg(expr("bool_and(hit)").as("bloom_hit"))
        .join(seenFps, Seq("fp"), "left")
        .withColumn("true_member", coalesce(col("true_member"), lit(false)))
        .selectExpr("doc_id", "bloom_hit", "true_member",
          """CASE WHEN bloom_hit AND true_member THEN 'tp'
                  WHEN bloom_hit THEN 'fp'
                  WHEN true_member THEN 'fn' ELSE 'tn' END AS outcome""")
        .orderBy(col("doc_id"))
    },

    // Statistical-LM quality filter (the CCNet / Wikipedia-LM perplexity
    // stage): train an add-1-smoothed bigram LM on the corpus itself, then
    // score each doc by average negative log-likelihood — boilerplate and
    // fluent text score low, token soup scores high. Everything is counts
    // (bigram/context/vocab) + one ln() per DISTINCT (doc, bigram), with
    // the log terms converted to scaled longs BEFORE the per-doc sum so
    // aggregation is partition-order-independent and the oracle matches
    // bit-for-bit. Scale shape: one token scan, per-doc bigram multiset
    // agg (map-side combinable), two slim count tables joined back on
    // long keys, one per-doc agg — no self-joins, no windows, no driver.
    "q_llm_lm_score" -> { (s, dir) =>
      val per = bigramNllPerDoc(s, dir)
      per.select(col("doc_id"), col("nb").as("n_bigrams"),
          ((-col("s6")).cast("double") / col("nb") / lit(1000000.0)).as("avg_nll"),
          Exact.fix(exp((-col("s6")).cast("double") / col("nb") / lit(1000000.0)), 4).as("ppl"),
          // keep/drop on the exact integers: avg_nll > 7 nats (ppl ~1100)
          expr("CASE WHEN -s6 > 7000000 * nb THEN 'drop' ELSE 'keep' END").as("verdict"))
        .orderBy(col("doc_id"))
    },

    // CCNet-style perplexity bucketing: each source's docs split into
    // head/middle/tail by WITHIN-SOURCE terciles of the bigram-LM average
    // NLL — the published CCNet output layout (head = most fluent third,
    // the slice most pipelines keep; tail = the noisy third they drop or
    // down-weight). Terciles are per-source for the same reason
    // q_llm_quality_calibrate's percentiles are: one absolute perplexity
    // cut over-prunes noisy sources and under-prunes clean ones. The
    // per-doc scalar is the exact integer (-s6) DIV nb; boundaries use
    // the cross-multiplied tests 3·cnt_le ≤ n_src / ≤ 2·n_src, and the
    // CDF is built on the AGGREGATED (source, avg6) table — distinct-
    // score rows, never a corpus-wide sort (the calibrate scale shape).
    "q_llm_ccnet_buckets" -> { (s, dir) =>
      val pd = bigramNllPerDoc(s, dir)
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .selectExpr("doc_id", "source", "nb", "(-s6) DIV nb AS avg6")
      val wcum = Window.partitionBy(col("source")).orderBy(col("avg6"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wsrc = Window.partitionBy(col("source"))
      val cdf = pd.groupBy(col("source"), col("avg6"))
        .agg(count(lit(1)).as("n"))
        .withColumn("cnt_le", sum(col("n")).over(wcum))
        .withColumn("n_src", sum(col("n")).over(wsrc))
        .select(col("source"), col("avg6"), col("cnt_le"), col("n_src"))
      pd.join(cdf, Seq("source", "avg6"))
        .withColumn("bucket", expr("CASE WHEN 3 * cnt_le <= n_src THEN 'head' " +
          "WHEN 3 * cnt_le <= 2 * n_src THEN 'middle' ELSE 'tail' END"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("n_bigrams"),
          (min(col("avg6")) / lit(1000000.0)).as("min_nll"),
          (max(col("avg6")) / lit(1000000.0)).as("max_nll"))
        .orderBy(col("source"), col("bucket"))
    },

    // Heuristic-vs-LM signal agreement: the 3×3 contingency of corpus-wide
    // quality-score terciles against bigram-LM NLL terciles — the audit
    // run before adding a second filter signal to a pipeline (if the LM
    // ranking is redundant with the cheap heuristic, the LM pass buys
    // nothing; if the off-diagonal mass is large, the two signals cut
    // DIFFERENT documents and stacking them compounds retention loss).
    // Both tercile boundaries use the aggregated-CDF + cross-multiplied
    // integer tests (the calibrate shape — distinct-score rows, never a
    // corpus sort); cell shares are exact ppm of the joined universe
    // (docs with >= 2 tokens, where both signals are defined).
    "q_llm_signal_agreement" -> { (s, dir) =>
      val stops = sqlList(markers.flatMap(_._2).distinct, duck = false)
      val qd = docs(s, dir)
        .selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr("doc_id", "size(t) AS n_tok",
          "size(array_distinct(t)) AS n_uniq",
          s"size(filter(t, w -> array_contains($stops, w))) AS n_stop")
        .where(col("n_tok") >= 2)
        .withColumn("q6", Exact.scaled(
          expr("0.4 * (CAST(n_uniq AS DOUBLE) / n_tok) " +
            "+ 0.3 * (CAST(n_stop AS DOUBLE) / n_tok) " +
            "+ 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)"), 6))
        .select(col("doc_id"), col("q6"))
      val pd = bigramNllPerDoc(s, dir).selectExpr("doc_id", "(-s6) DIV nb AS p6")
      def terciles(src: DataFrame, v: String, band: String): DataFrame = {
        val wcum = Window.orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cdf = src.groupBy(col(v)).agg(count(lit(1)).as("n"))
          .withColumn("cnt_le", sum(col("n")).over(wcum))
          .crossJoin(broadcast(src.agg(count(lit(1)).as("n_all"))))
          .selectExpr(v, "CASE WHEN 3 * cnt_le <= n_all THEN 'lo' " +
            s"WHEN 3 * cnt_le <= 2 * n_all THEN 'mid' ELSE 'hi' END AS $band")
        src.join(cdf, v).select(col("doc_id"), col(band))
      }
      val joined = terciles(qd, "q6", "q_band")
        .join(terciles(pd, "p6", "nll_band"), "doc_id")
      joined.groupBy(col("q_band"), col("nll_band"))
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(joined.agg(count(lit(1)).as("n_total"))))
        .selectExpr("q_band", "nll_band", "n_docs",
          "n_docs * 1000000 DIV n_total AS share_ppm")
        .orderBy(col("q_band"), col("nll_band"))
    },

    // Per-source quality calibration: the q_llm_quality score mapped to
    // its within-source percentile, keep/drop at a uniform 20% floor per
    // source. The fix for the cross-source filtering bias: one absolute
    // threshold over-prunes noisy sources and under-prunes clean ones —
    // retention should be uniform per source, threshold per-source
    // adaptive. Percentile = count of docs at-or-below the doc's scaled
    // score over the source size (cume_dist semantics made explicit so
    // the keep rule is the exact integer test 5·cnt_le > n_src). Scale
    // shape: the CDF is built on the AGGREGATED (source, score) table —
    // a cumulative window over distinct scaled scores (score-cardinality
    // rows, never corpus rows) joined back on slim keys. Ranking the raw
    // corpus directly would sort a source's entire 10 TB partition in one
    // task; this shape never does.
    "q_llm_quality_calibrate" -> { (s, dir) =>
      val stops = sqlList(markers.flatMap(_._2).distinct, duck = false)
      val scored = docs(s, dir)
        .selectExpr("doc_id", "source", "split(text, ' ') AS t")
        .selectExpr("doc_id", "source", "size(t) AS n_tok",
          "size(array_distinct(t)) AS n_uniq",
          s"size(filter(t, w -> array_contains($stops, w))) AS n_stop")
        .selectExpr("doc_id", "source",
          "0.4 * (CAST(n_uniq AS DOUBLE) / n_tok) " +
            "+ 0.3 * (CAST(n_stop AS DOUBLE) / n_tok) " +
            "+ 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS score_raw")
        .withColumn("s6", Exact.scaled(col("score_raw"), 6))
        .localCheckpoint() // feeds the CDF build AND the final join
      val wcum = Window.partitionBy(col("source")).orderBy(col("s6"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wsrc = Window.partitionBy(col("source"))
      val cdf = scored.groupBy(col("source"), col("s6"))
        .agg(count(lit(1)).as("n"))
        .withColumn("cnt_le", sum(col("n")).over(wcum))
        .withColumn("n_src", sum(col("n")).over(wsrc))
        .select(col("source"), col("s6"), col("cnt_le"), col("n_src"))
      scored.join(cdf, Seq("source", "s6"))
        .select(col("doc_id"), col("source"),
          (col("s6") / lit(1000000.0)).as("score"),
          (col("cnt_le").cast("double") / col("n_src")).as("pct_rank"),
          expr("CASE WHEN 5 * cnt_le > n_src THEN 'keep' ELSE 'drop' END").as("verdict"))
        .orderBy(col("doc_id"))
    },

    // Interpolated trigram LM (the production CCNet-shape scorer): score
    // each doc by average negative log-likelihood under
    // p = 0.6·p3 + 0.3·p2 + 0.1·p1, each level add-1 smoothed from its
    // own corpus count table — trigram events over trigram contexts,
    // bigram events over unigram contexts, unigrams over the token total.
    // Interpolation (vs pure backoff) keeps the formula branch-free, so
    // one ln() per DISTINCT (doc, trigram) with the identical operand
    // order in both engines, scaled to longs BEFORE the per-doc sum —
    // the [[Exact]] discipline that makes the 100 TB sum
    // partition-order-independent. Scale shape: three explode+agg count
    // tables (all map-side combinable), slim long-key joins to attach
    // counts, one per-doc agg; no self-joins, no windows, no driver.
    // The universe is docs with >= 3 tokens (trigrams are undefined
    // below that — both engines agree).
    "q_llm_lm_trigram" -> { (s, dir) =>
      val toks = docs(s, dir)
        .selectExpr("doc_id", s"${sparkWordHashes("text")} AS wh")
        .where(expr("size(wh) >= 3"))
        .localCheckpoint()
      // per-doc trigram multiset (doc_id, h1, h2, h3, m) — feeds c3 AND
      // the scoring join; repeated trigrams collapse before any join
      val tgd = toks.selectExpr("doc_id",
          "explode(transform(sequence(1, size(wh) - 2), i -> " +
            "named_struct('h1', element_at(wh, i), 'h2', element_at(wh, i + 1), " +
            "'h3', element_at(wh, i + 2)))) AS tg")
        .groupBy(col("doc_id"), col("tg.h1").as("h1"), col("tg.h2").as("h2"),
          col("tg.h3").as("h3"))
        .agg(count(lit(1)).as("m"))
        .localCheckpoint()
      val c3 = tgd.groupBy(col("h1"), col("h2"), col("h3")).agg(sum(col("m")).as("c3"))
      // ONE bigram count table serves both roles: (h1,h2) is the trigram
      // context, (h2,h3) the bigram-level event
      val bg = toks.selectExpr(
          "explode(transform(sequence(1, size(wh) - 1), i -> " +
            "named_struct('x', element_at(wh, i), 'y', element_at(wh, i + 1)))) AS b")
        .groupBy(col("b.x").as("x"), col("b.y").as("y"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val un = toks.selectExpr("explode(wh) AS h")
        .groupBy(col("h")).agg(count(lit(1)).as("u"))
        .localCheckpoint()
      val stats = un.agg(sum(col("u")).as("t"), count(lit(1)).as("v"))
      val joined = tgd
        .join(c3, Seq("h1", "h2", "h3"))
        .join(bg.select(col("x").as("h1"), col("y").as("h2"), col("c").as("c12")),
          Seq("h1", "h2"))
        .join(bg.select(col("x").as("h2"), col("y").as("h3"), col("c").as("b23")),
          Seq("h2", "h3"))
        .join(un.select(col("h").as("h2"), col("u").as("c2")), "h2")
        .join(un.select(col("h").as("h3"), col("u").as("u3")), "h3")
        .crossJoin(broadcast(stats))
      // deterministic integer-ln kernel — this entry is WHERE the libm
      // ulp class was caught (sf1 gate, round 13): one of its 7.5e7
      // interpolated-probability terms landed within 1 ulp of the
      // micro-rounding boundary and Spark/DuckDB ln() split it
      val per = Dln.withDln(joined,
        "6.0E-1 * ((c3 + 1.0E0) / (c12 + v)) + 3.0E-1 * ((b23 + 1.0E0) / (c2 + v)) " +
          "+ 1.0E-1 * ((u3 + 1.0E0) / (t + v))", "t6")
        .groupBy(col("doc_id"))
        .agg(sum(col("m") * col("t6")).as("s6"), sum(col("m")).as("nt"))
      per.select(col("doc_id"), col("nt").as("n_trigrams"),
          ((-col("s6")).cast("double") / col("nt") / lit(1000000.0)).as("avg_nll"),
          Exact.fix(exp((-col("s6")).cast("double") / col("nt") / lit(1000000.0)), 4).as("ppl"),
          expr("CASE WHEN -s6 > 7000000 * nt THEN 'drop' ELSE 'keep' END").as("verdict"))
        .orderBy(col("doc_id"))
    },

    // Corpus-mix drift between sources: Jensen–Shannon divergence of each
    // source pair's word distributions — the audit that tells you whether
    // two crawl snapshots / providers actually differ before you retune
    // mixture weights. The exclusive-mass trick makes it one INNER join:
    // for h present only in P, the JS integrand degenerates to
    // 0.5·p·ln 2, so JS = 0.5·[Σ_shared p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
    // + 0.5·ln 2·[(1−Σ_shared p) + (1−Σ_shared q)] — exclusive terms
    // collapse into the shared-mass complement, no full-outer join over
    // the union vocabulary. Per-term doubles are scaled to longs at 9
    // decimals before summing (p ~ 1/T can be 1e-8 at corpus scale; the
    // SUMS stay exact and order-independent). Scale: one token scan →
    // per-source counts, pair join only on the shared vocab, sources² is
    // tiny (pairs of corpora, not docs).
    "q_llm_source_divergence" -> { (s, dir) =>
      val cs = docs(s, dir)
        .selectExpr("source", s"explode(${sparkWordHashes("text")}) AS h")
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val ts = cs.groupBy(col("source")).agg(sum(col("c")).as("tt"))
      val a = cs.join(ts, "source")
        .select(col("source").as("src_a"), col("h"), col("c").as("ca"), col("tt").as("ta"))
      val b = cs.join(ts, "source")
        .select(col("source").as("src_b"), col("h"), col("c").as("cb"), col("tt").as("tb"))
      val shared = a.join(b, Seq("h")).where(col("src_a") < col("src_b"))
        .withColumn("p", expr("CAST(ca AS DOUBLE) / ta"))
        .withColumn("q", expr("CAST(cb AS DOUBLE) / tb"))
        .withColumn("tp9", Exact.scaled(expr("p * ln(2.0 * p / (p + q))"), 9))
        .withColumn("tq9", Exact.scaled(expr("q * ln(2.0 * q / (p + q))"), 9))
        .withColumn("p9", Exact.scaled(col("p"), 9))
        .withColumn("q9", Exact.scaled(col("q"), 9))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"),
          sum(col("tp9")).as("stp"), sum(col("tq9")).as("stq"),
          sum(col("p9")).as("sp"), sum(col("q9")).as("sq"))
      shared.selectExpr("src_a", "src_b", "n_shared",
          "0.5 * ((stp + stq) / 1e9) + 0.5 * ln(2.0) * " +
            "((1.0 - sp / 1e9) + (1.0 - sq / 1e9)) AS js_raw")
        .withColumn("js_div", Exact.fix(col("js_raw"), 6))
        .withColumn("js_norm", Exact.fix(expr("js_raw / ln(2.0)"), 4))
        .drop("js_raw")
        .orderBy(col("src_a"), col("src_b"))
    })

  def oracleSql: Map[String, String] = {
    val hitCols = markers.map { case (l, ws) =>
      s"len(list_intersect(td, ${sqlList(ws, duck = true)})) AS h_$l"
    }.mkString(",\n               ")
    val g = markers.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
    val pred = "CASE WHEN " + g + " = 0 THEN 'und' " +
      markers.map { case (l, _) => s"WHEN h_$l = $g THEN '$l'" }.mkString(" ") + " END"
    val stops = sqlList(markers.flatMap(_._2).distinct, duck = true)
    // shared mirror of [[bigramNllPerDoc]] — ONE copy of the bigram-LM
    // chain, reused by lm_score / ccnet_buckets / signal_agreement
    val bigramPerCtes = s"""toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents),
      t2 AS (SELECT doc_id, wh FROM toks WHERE len(wh) >= 2),
      bg AS (
        SELECT doc_id, unnest(wh[1:len(wh)-1]) AS h1, unnest(wh[2:len(wh)]) AS h2
        FROM t2),
      bgd AS (SELECT doc_id, h1, h2, count(*) AS m FROM bg GROUP BY 1, 2, 3),
      c2 AS (SELECT h1, h2, CAST(sum(m) AS BIGINT) AS c2 FROM bgd GROUP BY 1, 2),
      c1 AS (SELECT h1, CAST(sum(m) AS BIGINT) AS c1 FROM bgd GROUP BY 1),
      vocab AS (
        SELECT count(DISTINCT h) AS v FROM (SELECT unnest(wh) AS h FROM t2)),
      ${Dln.duckChain(
        "SELECT doc_id, m, (c2 + 1.0E0) / (c1 + v) AS _dl_arg " +
          "FROM bgd JOIN c2 USING (h1, h2) JOIN c1 USING (h1), vocab",
        "terms", "t6", Seq("doc_id", "m"))},
      per AS (
        SELECT doc_id, CAST(sum(m * t6) AS BIGINT) AS s6,
               CAST(sum(m) AS BIGINT) AS nb
        FROM terms GROUP BY doc_id)"""
    Map(
      "q_llm_lang_id" -> s"""
      WITH td AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS td FROM documents),
      hits AS (
        SELECT doc_id, lang,
               $hitCols
        FROM td),
      p AS (SELECT lang, $pred AS predicted FROM hits)
      SELECT lang, predicted, count(*) AS n
      FROM p GROUP BY lang, predicted ORDER BY lang, predicted""",

      "q_llm_code_switch" -> {
        val docHits = markers.map { case (l, ws) =>
          s"len(list_intersect(td, ${sqlList(ws, duck = true)})) AS dh_$l"
        }.mkString(",\n               ")
        val segHits = markers.map { case (l, ws) =>
          s"len(list_intersect(sd, ${sqlList(ws, duck = true)})) AS sh_$l"
        }.mkString(",\n               ")
        val gd = markers.map { case (l, _) => s"dh_$l" }.mkString("greatest(", ", ", ")")
        val gs = markers.map { case (l, _) => s"sh_$l" }.mkString("greatest(", ", ", ")")
        val predDoc = "CASE WHEN " + gd + " = 0 THEN 'und' " +
          markers.map { case (l, _) => s"WHEN dh_$l = $gd THEN '$l'" }.mkString(" ") + " END"
        val predSeg = "CASE WHEN " + gs + " = 0 THEN 'und' " +
          markers.map { case (l, _) => s"WHEN sh_$l = $gs THEN '$l'" }.mkString(" ") + " END"
        s"""
      WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      seg AS (
        SELECT doc_id, list_distinct(t) AS td,
               unnest(list_transform(range(0, (len(t) - 1) // 20 + 1),
                 i -> list_distinct(t[i * 20 + 1 : i * 20 + 20]))) AS sd
        FROM base),
      h AS (
        SELECT doc_id,
               $docHits,
               $segHits
        FROM seg),
      p AS (SELECT doc_id, $predDoc AS pred_doc, $predSeg AS pred_seg FROM h),
      agg AS (
        SELECT doc_id, pred_doc, count(*) AS n_seg,
               CAST(sum(CASE WHEN pred_seg = pred_doc THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_agree,
               CAST(sum(CASE WHEN pred_seg = 'und' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_und
        FROM p GROUP BY doc_id, pred_doc)
      SELECT doc_id, pred_doc, n_seg, n_agree, n_und,
             (n_seg - n_agree) * 1000000 // n_seg AS switch_ppm,
             CASE WHEN n_agree = n_seg THEN 'uniform'
                  WHEN n_agree * 5 >= n_seg * 4 THEN 'mostly'
                  ELSE 'switched' END AS verdict
      FROM agg ORDER BY doc_id"""
      },

      "q_llm_quality" -> s"""
      WITH base AS (
        SELECT doc_id, length(text) AS n_chars_txt, string_split(text, ' ') AS t
        FROM documents),
      c AS (
        SELECT doc_id, n_chars_txt,
               CAST(len(t) AS INT) AS n_tok,
               CAST(len(list_distinct(t)) AS INT) AS n_uniq,
               CAST(len(list_filter(t, w -> list_contains($stops, w))) AS INT) AS n_stop
        FROM base),
      r AS (
        SELECT doc_id, n_tok, n_uniq,
               CAST(n_uniq AS DOUBLE) / n_tok AS ttr,
               CAST(n_chars_txt - n_tok + 1 AS DOUBLE) / n_tok AS mean_wlen,
               CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio
        FROM c),
      sc AS (
        SELECT *, 0.4 * ttr + 0.3 * stop_ratio + 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS score_raw
        FROM r)
      SELECT doc_id, n_tok, n_uniq,
             ${Exact.sqlFix("ttr", 6)} AS ttr,
             ${Exact.sqlFix("mean_wlen", 6)} AS mean_wlen,
             ${Exact.sqlFix("stop_ratio", 6)} AS stop_ratio,
             ${Exact.sqlFix("score_raw", 6)} AS score,
             CASE WHEN score_raw >= 0.5 THEN 'high' WHEN score_raw >= 0.35 THEN 'medium' ELSE 'low' END AS band
      FROM sc ORDER BY doc_id""",

      // mirror of q_llm_pmi_terms: same integer monotone PMI transform
      "q_llm_pmi_terms" -> """
      WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      uni AS (
        SELECT w, count(*) AS c_w
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      bi AS (
        SELECT w1, w2, count(*) AS c_xy FROM (
          SELECT t[i] AS w1, t[i + 1] AS w2
          FROM toks, unnest(range(1, len(t))) AS r(i))
        GROUP BY w1, w2 HAVING count(*) >= 5),
      n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM bi)
      SELECT w1, w2, c_xy,
             CAST(c_xy * n_bigrams * 1000000 // (x.c_w * y.c_w) AS BIGINT)
               AS pmi_score
      FROM bi
      JOIN uni x ON bi.w1 = x.w
      JOIN uni y ON bi.w2 = y.w
      CROSS JOIN n
      ORDER BY pmi_score DESC, w1, w2 LIMIT 20""",

      // mirror of q_llm_quality_sweep: identical score, value buckets,
      // 0..9 spine, reverse running totals over the 10-row bucket table
      "q_llm_quality_sweep" -> s"""
      WITH base AS (
        SELECT string_split(text, ' ') AS t FROM documents),
      c AS (
        SELECT CAST(len(t) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(t)) AS INT) AS n_uniq,
               CAST(len(list_filter(t, w -> list_contains($stops, w))) AS INT) AS n_stop
        FROM base),
      sc AS (
        SELECT n_tok,
               ${Exact.sqlScaled(
                 "0.4 * (CAST(n_uniq AS DOUBLE) / n_tok) " +
                 "+ 0.3 * (CAST(n_stop AS DOUBLE) / n_tok) " +
                 "+ 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)", 6)} AS s6
        FROM c),
      bk AS (
        SELECT least(9, greatest(0, s6 * 10 // 1000001)) AS bucket,
               count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM sc GROUP BY 1),
      spine AS (SELECT unnest(range(10)) AS bucket),
      f AS (
        SELECT s.bucket,
               coalesce(n_docs, 0) AS n_docs,
               coalesce(n_tokens, 0) AS n_tokens
        FROM spine s LEFT JOIN bk ON s.bucket = bk.bucket),
      cum AS (
        SELECT *,
               sum(n_docs) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS docs_kept,
               sum(n_tokens) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tokens_kept,
               sum(n_tokens) OVER () AS total_tokens
        FROM f)
      SELECT bucket, n_docs, n_tokens,
             CAST(docs_kept AS BIGINT) AS docs_kept,
             CAST(tokens_kept AS BIGINT) AS tokens_kept,
             CAST(tokens_kept AS BIGINT) * 1000000 // CAST(total_tokens AS BIGINT)
               AS kept_ppm
      FROM cum ORDER BY bucket""",

      "q_llm_token_stats" -> s"""
      WITH base AS (
        SELECT source, length(text) AS len_txt,
               CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe
        FROM documents),
      agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
               CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
               CAST(sum(len_txt) AS DOUBLE) / CAST(sum(n_ws) AS BIGINT) AS cpt_raw
        FROM base GROUP BY source)
      SELECT source, n_docs, ws_tokens, bpe_tokens,
             ${Exact.sqlFix("cpt_raw", 6)} AS chars_per_ws_token
      FROM agg ORDER BY source""",

      "q_llm_fingerprint" -> s"""
      WITH fp AS (
        SELECT doc_id,
               ${duckCharHash("text")} AS fp,
               ${duckCharHash("substring(text, 1, 64)")} AS fp_prefix
        FROM documents)
      SELECT doc_id, fp, fp_prefix, count(*) OVER (PARTITION BY fp) AS n_same_fp
      FROM fp ORDER BY doc_id""",

      "q_llm_heavy_hitters" -> {
        val bucketsOf = (r: Int) => s"(h * ${A(r)} + ${B(r)}) % $P % 1024"
        val cellUnion = (0 until 3)
          .map(r => s"SELECT $r AS r, ${bucketsOf(r)} AS b FROM ex")
          .mkString("\n        UNION ALL ")
        val probeUnion = (0 until 3)
          .map(r => s"SELECT h, true_n, $r AS r, ${bucketsOf(r)} AS b FROM truth")
          .mkString("\n        UNION ALL ")
        s"""
      WITH ex AS (
        SELECT unnest(${duckWordHashes("text")}) AS h FROM documents),
      cells AS (
        SELECT r, b, CAST(count(*) AS BIGINT) AS cell FROM (
        $cellUnion) GROUP BY r, b),
      truth AS (
        SELECT h, CAST(count(*) AS BIGINT) AS true_n FROM ex
        GROUP BY h ORDER BY true_n DESC, h LIMIT 20),
      probes AS (
        $probeUnion)
      SELECT h, true_n, min(cell) AS est_n, min(cell) - true_n AS overcount
      FROM probes JOIN cells USING (r, b)
      GROUP BY h, true_n
      ORDER BY true_n DESC, h"""
      },

      "q_llm_gopher_rules" -> s"""
      WITH b AS (
        SELECT doc_id, length(text) AS len_txt, string_split(text, ' ') AS t,
               CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell
        FROM documents),
      c AS (
        SELECT doc_id, n_ell,
               CAST(len(t) AS INT) AS n_words,
               len_txt - CAST(len(t) AS INT) + 1 AS len_adj,
               CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS INT) AS n_alpha,
               CAST(len(list_intersect(t, ${sqlList(markers.flatMap(_._2).distinct, duck = true)})) AS INT) AS n_stop_distinct
        FROM b),
      r AS (
        SELECT doc_id, n_words, n_ell, n_alpha, n_stop_distinct,
               n_words >= 50 AND n_words <= 100000 AS r_words,
               3 * n_words <= len_adj AND len_adj <= 10 * n_words AS r_wlen,
               10 * n_ell <= n_words AS r_symbol,
               5 * n_alpha >= 4 * n_words AS r_alpha,
               n_stop_distinct >= 2 AS r_stop
        FROM c)
      SELECT doc_id, n_words, n_ell, n_alpha, n_stop_distinct,
             r_words, r_wlen, r_symbol, r_alpha, r_stop,
             CASE WHEN r_words AND r_wlen AND r_symbol AND r_alpha AND r_stop
                  THEN 'keep' ELSE 'drop' END AS verdict
      FROM r ORDER BY doc_id""",

      "q_llm_normalize" -> s"""
      WITH n AS (
        SELECT doc_id, CAST(length(text) AS INT) AS len_raw,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents),
      f AS (
        SELECT doc_id, len_raw, CAST(length(norm) AS INT) AS len_norm,
               ${duckCharHash("norm")} AS fp_norm
        FROM n)
      SELECT doc_id, len_raw, len_norm, fp_norm,
             ${Exact.sqlFix("CASE WHEN len_raw = 0 THEN CAST(0.0 AS DOUBLE) " +
               "ELSE CAST(len_raw - len_norm AS DOUBLE) * 100.0 / len_raw END", 4)} AS removed_pct,
             count(*) OVER (PARTITION BY fp_norm) AS n_same_norm
      FROM f ORDER BY doc_id""",

      "q_llm_classifier" -> s"""
      WITH tok AS (
        SELECT doc_id, unnest(${duckWordHashes("text")}) AS h FROM documents),
      w AS (
        SELECT doc_id, (((h % 256) * ${A(1)} + ${B(1)}) % $P) % 2001 - 1000 AS w FROM tok),
      agg AS (
        SELECT doc_id, count(*) AS n_tok, CAST(sum(w) AS BIGINT) AS score
        FROM w GROUP BY doc_id)
      SELECT doc_id, n_tok, score,
             ${Exact.sqlFix("CAST(score AS DOUBLE) / n_tok", 4)} AS margin,
             CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS verdict
      FROM agg ORDER BY doc_id""",

      "q_llm_char_entropy" -> s"""
      WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      cc AS (
        SELECT doc_id, ch, count(*) AS nc FROM ch GROUP BY 1, 2),
      ${Dln.duckChain(
        "SELECT doc_id, nc, CAST(nc AS DOUBLE) AS _dl_arg FROM cc",
        "t", "t6", Seq("doc_id", "nc"))},
      agg AS (
        SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n,
               count(*) AS n_distinct_chars,
               CAST(sum(nc * t6) AS BIGINT) AS s6
        FROM t GROUP BY doc_id),
      ${Dln.duckChain(
        "SELECT doc_id, n, n_distinct_chars, s6, CAST(n AS DOUBLE) AS _dn_arg FROM agg",
        "e", "ln_n6", Seq("doc_id", "n", "n_distinct_chars", "s6"), prefix = "_dn_")}
      SELECT doc_id, n AS n_chars_txt, n_distinct_chars,
             ${Exact.sqlFix("(CAST(ln_n6 AS DOUBLE) - CAST(s6 AS DOUBLE) / n) / 1000000.0", 6)} AS entropy,
             CASE WHEN ln_n6 * n - s6 < 2000000 * n THEN 'flag' ELSE 'ok' END AS verdict
      FROM e ORDER BY doc_id""",

      "q_llm_vocab_coverage" -> s"""
      WITH counts AS (
        SELECT w, count(*) AS n FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
      r AS (
        SELECT w, n, CAST(row_number() OVER (ORDER BY n DESC, w) AS INT) AS rank
        FROM counts),
      top AS (SELECT * FROM r WHERE rank <= 50),
      c AS (
        SELECT rank, w, n,
               CAST(sum(n) OVER (ORDER BY rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        FROM top)
      SELECT rank, w AS word, n,
             ${Exact.sqlFix("CAST(cum_n AS DOUBLE) * 100.0 / total", 4)} AS cum_pct
      FROM c, tot ORDER BY rank""",

      // unrolled mirror of bpeEncodeOf: the train chain with (key, w)
      // carried through the replaces, collapsed to per-key stats
      "q_llm_bpe_encode" -> s"""
      WITH ${duckBpeEncodeCtes("source")}
      SELECT source, n_words, n_tokens, n_chars,
             ${Exact.sqlFix("CAST(n_tokens AS DOUBLE) / n_words", 6)} AS tokens_per_word
      FROM agg ORDER BY source""",

      // the same encode chain keyed by LANGUAGE + the parity ratio vs the
      // cheapest language; the window min runs over the per-lang rows
      "q_llm_bpe_fertility" -> s"""
      WITH ${duckBpeEncodeCtes("lang")},
      tpw AS (
        SELECT lang, n_words, n_tokens, n_chars,
               ${Exact.sqlFix("CAST(n_tokens AS DOUBLE) / n_words", 6)} AS tokens_per_word
        FROM agg)
      SELECT lang, n_words, n_tokens, n_chars, tokens_per_word,
             ${Exact.sqlFix("tokens_per_word / (min(tokens_per_word) OVER ())", 6)} AS fertility_ratio
      FROM tpw ORDER BY lang""",

      // unrolled mirror of bpeTrainOf's K rounds: identical segmentation
      // encoding, identical boundary-anchored replace, identical argmax
      // tie-break — the duckKmeansCtes Lloyd-unroll pattern for tokenizer
      // training
      "q_llm_bpe_train" -> {
        val roundCtes = (1 to BpeRounds).map { r =>
          s"""
      y$r AS (SELECT string_split(seg[2:length(seg) - 1], '$Sep$Sep') AS sy FROM s${r - 1}),
      p$r AS (SELECT unnest(sy[1:len(sy) - 1]) AS lhs, unnest(sy[2:len(sy)]) AS rhs
              FROM y$r WHERE len(sy) >= 2),
      c$r AS (SELECT lhs, rhs, count(*) AS n FROM p$r GROUP BY lhs, rhs),
      t$r AS (SELECT lhs, rhs, n FROM c$r ORDER BY n DESC, lhs, rhs LIMIT 1),
      s$r AS (SELECT replace(seg, '$Sep' || lhs || '$Sep$Sep' || rhs || '$Sep',
                             '$Sep' || lhs || rhs || '$Sep') AS seg FROM s${r - 1}, t$r)"""
        }.mkString(",")
        val un = (1 to BpeRounds).map(r =>
          s"SELECT CAST($r AS INT) AS rnd, lhs, rhs, lhs || rhs AS merged, n FROM t$r")
          .mkString("\n      UNION ALL ")
        s"""
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      s0 AS (
        SELECT '$Sep' || array_to_string(string_split(w, ''), '$Sep$Sep') || '$Sep' AS seg
        FROM w WHERE length(w) >= 2),$roundCtes
      SELECT * FROM (
      $un) ORDER BY rnd"""
      },

      "q_llm_bpe_pairs" -> """
      WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      p AS (
        SELECT unnest(list_transform(range(1, length(w)), i -> substring(w, CAST(i AS INT), 2))) AS pair
        FROM w WHERE length(w) >= 2)
      SELECT pair, count(*) AS n FROM p
      GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",

      "q_llm_bloom" -> {
        val posOf = (r: Int) => s"(fp * ${A(r)} + ${B(r)}) % $P % 2048"
        val buildUnion = (0 until 3)
          .map(r => s"SELECT ${posOf(r)} AS p FROM seen")
          .mkString("\n        UNION ALL ")
        val probeUnion = (0 until 3)
          .map(r => s"SELECT doc_id, fp, ${posOf(r)} AS p FROM d WHERE NOT (CAST(substring(source, 4) AS INT) < 10)")
          .mkString("\n        UNION ALL ")
        s"""
      WITH d AS (
        SELECT doc_id, source, ${duckCharHash("text")} AS fp FROM documents),
      seen AS (SELECT * FROM d WHERE CAST(substring(source, 4) AS INT) < 10),
      pos AS (
        $buildUnion),
      words AS (
        SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS wv
        FROM pos GROUP BY 1),
      seenfps AS (SELECT DISTINCT fp FROM seen),
      probes AS (
        $probeUnion),
      hits AS (
        SELECT doc_id, fp,
               bool_and((coalesce(wv, CAST(0 AS BIGINT)) & (CAST(1 AS BIGINT) << CAST(p % 32 AS INT))) <> 0) AS bloom_hit
        FROM probes LEFT JOIN words ON probes.p // 32 = words.w
        GROUP BY doc_id, fp)
      SELECT h.doc_id, h.bloom_hit,
             (s.fp IS NOT NULL) AS true_member,
             CASE WHEN h.bloom_hit AND s.fp IS NOT NULL THEN 'tp'
                  WHEN h.bloom_hit THEN 'fp'
                  WHEN s.fp IS NOT NULL THEN 'fn' ELSE 'tn' END AS outcome
      FROM hits h LEFT JOIN seenfps s ON h.fp = s.fp
      ORDER BY h.doc_id"""
      },

      // mirror of q_llm_lm_score: identical counts, identical ln()
      // argument (the double division (c2+1.0)/(c1+v) on identical
      // integer inputs), scaled to longs before any aggregation
      "q_llm_lm_score" -> s"""
      WITH $bigramPerCtes
      SELECT doc_id, nb AS n_bigrams,
             CAST(-s6 AS DOUBLE) / nb / 1000000.0 AS avg_nll,
             ${Exact.sqlFix("exp(CAST(-s6 AS DOUBLE) / nb / 1000000.0)", 4)} AS ppl,
             CASE WHEN -s6 > 7000000 * nb THEN 'drop' ELSE 'keep' END AS verdict
      FROM per ORDER BY doc_id""",

      // mirror of q_llm_ccnet_buckets: the identical bigram-LM chain down
      // to per(s6, nb), then (-s6) // nb per-doc scalar, per-source
      // aggregated CDF and the same 3·cnt_le tercile tests
      "q_llm_ccnet_buckets" -> s"""
      WITH $bigramPerCtes,
      pd AS (
        SELECT p.doc_id, d.source, p.nb, (-p.s6) // p.nb AS avg6
        FROM per p JOIN documents d USING (doc_id)),
      cdf0 AS (SELECT source, avg6, count(*) AS n FROM pd GROUP BY 1, 2),
      cdf AS (
        SELECT source, avg6,
               sum(n) OVER (PARTITION BY source ORDER BY avg6
                 ROWS UNBOUNDED PRECEDING) AS cnt_le,
               sum(n) OVER (PARTITION BY source) AS n_src
        FROM cdf0),
      b AS (
        SELECT pd.doc_id, pd.source, pd.nb, pd.avg6,
               CASE WHEN 3 * cnt_le <= n_src THEN 'head'
                    WHEN 3 * cnt_le <= 2 * n_src THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM pd JOIN cdf USING (source, avg6))
      SELECT source, bucket, count(*) AS n_docs,
             CAST(sum(nb) AS BIGINT) AS n_bigrams,
             min(avg6) / 1000000.0 AS min_nll,
             max(avg6) / 1000000.0 AS max_nll
      FROM b GROUP BY source, bucket ORDER BY source, bucket""",

      // mirror of q_llm_signal_agreement: same quality formula as
      // calibrate (restricted to n_tok >= 2), the shared bigram chain,
      // corpus-wide aggregated-CDF terciles on both signals
      "q_llm_signal_agreement" -> s"""
      WITH $bigramPerCtes,
      qd0 AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      qd1 AS (
        SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_uniq,
               len(list_filter(t, w -> list_contains($stops, w))) AS n_stop
        FROM qd0 WHERE len(t) >= 2),
      qd AS (
        SELECT doc_id,
               ${Exact.sqlScaled(
                 "0.4 * (CAST(n_uniq AS DOUBLE) / n_tok) " +
                 "+ 0.3 * (CAST(n_stop AS DOUBLE) / n_tok) " +
                 "+ 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)", 6)} AS q6
        FROM qd1),
      pdx AS (SELECT doc_id, (-s6) // nb AS p6 FROM per),
      qcdf AS (
        SELECT q6,
               sum(n) OVER (ORDER BY q6 ROWS UNBOUNDED PRECEDING) AS cnt_le,
               sum(n) OVER () AS n_all
        FROM (SELECT q6, count(*) AS n FROM qd GROUP BY q6)),
      qb AS (
        SELECT qd.doc_id,
               CASE WHEN 3 * cnt_le <= n_all THEN 'lo'
                    WHEN 3 * cnt_le <= 2 * n_all THEN 'mid'
                    ELSE 'hi' END AS q_band
        FROM qd JOIN qcdf USING (q6)),
      pcdf AS (
        SELECT p6,
               sum(n) OVER (ORDER BY p6 ROWS UNBOUNDED PRECEDING) AS cnt_le,
               sum(n) OVER () AS n_all
        FROM (SELECT p6, count(*) AS n FROM pdx GROUP BY p6)),
      pb AS (
        SELECT pdx.doc_id,
               CASE WHEN 3 * cnt_le <= n_all THEN 'lo'
                    WHEN 3 * cnt_le <= 2 * n_all THEN 'mid'
                    ELSE 'hi' END AS nll_band
        FROM pdx JOIN pcdf USING (p6)),
      j AS (SELECT q_band, nll_band FROM qb JOIN pb USING (doc_id)),
      tot AS (SELECT count(*) AS n_total FROM j)
      SELECT q_band, nll_band, count(*) AS n_docs,
             count(*) * 1000000 // n_total AS share_ppm
      FROM j, tot GROUP BY q_band, nll_band, n_total
      ORDER BY q_band, nll_band""",

      // mirror of q_llm_quality_calibrate: identical score formula, the
      // same aggregated-CDF shape (cume over distinct scaled scores)
      "q_llm_quality_calibrate" -> s"""
      WITH feats AS (
        SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents),
      base AS (
        SELECT doc_id, source, len(t) AS n_tok,
               len(list_distinct(t)) AS n_uniq,
               len(list_filter(t, w -> list_contains($stops, w))) AS n_stop
        FROM feats),
      scored AS (
        SELECT doc_id, source,
               ${Exact.sqlScaled(
                 "0.4 * (CAST(n_uniq AS DOUBLE) / n_tok) " +
                   "+ 0.3 * (CAST(n_stop AS DOUBLE) / n_tok) " +
                   "+ 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)", 6)} AS s6
        FROM base),
      cdf AS (
        SELECT source, s6,
               sum(n) OVER (PARTITION BY source ORDER BY s6
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_le,
               sum(n) OVER (PARTITION BY source) AS n_src
        FROM (SELECT source, s6, count(*) AS n FROM scored GROUP BY source, s6))
      SELECT doc_id, scored.source, scored.s6 / 1000000.0 AS score,
             CAST(cnt_le AS DOUBLE) / n_src AS pct_rank,
             CASE WHEN 5 * cnt_le > n_src THEN 'keep' ELSE 'drop' END AS verdict
      FROM scored JOIN cdf ON scored.source = cdf.source AND scored.s6 = cdf.s6
      ORDER BY doc_id""",

      // mirror of q_llm_lm_trigram: identical counts from the same three
      // streams, identical interpolated-ln operand order, scaled to longs
      // before any aggregation
      "q_llm_lm_trigram" -> s"""
      WITH toks AS (
        SELECT doc_id, wh FROM (
          SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents)
        WHERE len(wh) >= 3),
      tg AS (
        SELECT doc_id, unnest(wh[1:len(wh)-2]) AS h1,
               unnest(wh[2:len(wh)-1]) AS h2, unnest(wh[3:len(wh)]) AS h3
        FROM toks),
      tgd AS (SELECT doc_id, h1, h2, h3, count(*) AS m FROM tg GROUP BY 1, 2, 3, 4),
      c3t AS (SELECT h1, h2, h3, CAST(sum(m) AS BIGINT) AS c3 FROM tgd GROUP BY 1, 2, 3),
      bgs AS (
        SELECT unnest(wh[1:len(wh)-1]) AS x, unnest(wh[2:len(wh)]) AS y FROM toks),
      bg AS (SELECT x, y, count(*) AS c FROM bgs GROUP BY 1, 2),
      un AS (SELECT unnest(wh) AS h FROM toks),
      uc AS (SELECT h, count(*) AS u FROM un GROUP BY h),
      stats AS (SELECT CAST(sum(u) AS BIGINT) AS t, count(*) AS v FROM uc),
      ${Dln.duckChain(
        "SELECT doc_id, m, 6.0E-1 * ((c3 + 1.0E0) / (c12 + v)) " +
          "+ 3.0E-1 * ((b23 + 1.0E0) / (c2 + v)) " +
          "+ 1.0E-1 * ((u3 + 1.0E0) / (t + v)) AS _dl_arg " +
          """FROM tgd
        JOIN c3t USING (h1, h2, h3)
        JOIN (SELECT x AS h1, y AS h2, c AS c12 FROM bg) USING (h1, h2)
        JOIN (SELECT x AS h2, y AS h3, c AS b23 FROM bg) USING (h2, h3)
        JOIN (SELECT h AS h2, u AS c2 FROM uc) USING (h2)
        JOIN (SELECT h AS h3, u AS u3 FROM uc) USING (h3), stats""",
        "terms", "t6", Seq("doc_id", "m"))},
      per AS (
        SELECT doc_id, CAST(sum(m * t6) AS BIGINT) AS s6,
               CAST(sum(m) AS BIGINT) AS nt
        FROM terms GROUP BY doc_id)
      SELECT doc_id, nt AS n_trigrams,
             CAST(-s6 AS DOUBLE) / nt / 1000000.0 AS avg_nll,
             ${Exact.sqlFix("exp(CAST(-s6 AS DOUBLE) / nt / 1000000.0)", 4)} AS ppl,
             CASE WHEN -s6 > 7000000 * nt THEN 'drop' ELSE 'keep' END AS verdict
      FROM per ORDER BY doc_id""",

      // mirror of q_llm_source_divergence: shared-vocab inner join plus
      // the exclusive-mass complement, per-term scaled at 9 decimals
      "q_llm_source_divergence" -> s"""
      WITH cs AS (
        SELECT source, h, count(*) AS c FROM (
          SELECT source, unnest(${duckWordHashes("text")}) AS h FROM documents)
        GROUP BY source, h),
      ts AS (SELECT source, CAST(sum(c) AS BIGINT) AS tt FROM cs GROUP BY source),
      pq AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(a.c AS DOUBLE) / ta.tt AS p,
               CAST(b.c AS DOUBLE) / tb.tt AS q
        FROM cs a JOIN cs b ON a.h = b.h AND a.source < b.source
        JOIN ts ta ON ta.source = a.source
        JOIN ts tb ON tb.source = b.source),
      agg AS (
        SELECT src_a, src_b, count(*) AS n_shared,
               CAST(sum(${Exact.sqlScaled("p * ln(2.0 * p / (p + q))", 9)}) AS BIGINT) AS stp,
               CAST(sum(${Exact.sqlScaled("q * ln(2.0 * q / (p + q))", 9)}) AS BIGINT) AS stq,
               CAST(sum(${Exact.sqlScaled("p", 9)}) AS BIGINT) AS sp,
               CAST(sum(${Exact.sqlScaled("q", 9)}) AS BIGINT) AS sq
        FROM pq GROUP BY src_a, src_b)
      SELECT src_a, src_b, n_shared,
             ${Exact.sqlFix(
               "0.5 * ((stp + stq) / 1e9) + 0.5 * ln(2.0) * " +
                 "((1.0 - sp / 1e9) + (1.0 - sq / 1e9))", 6)} AS js_div,
             ${Exact.sqlFix(
               "(0.5 * ((stp + stq) / 1e9) + 0.5 * ln(2.0) * " +
                 "((1.0 - sp / 1e9) + (1.0 - sq / 1e9))) / ln(2.0)", 4)} AS js_norm
      FROM agg ORDER BY src_a, src_b""")
  }
}
