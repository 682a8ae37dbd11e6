package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact
import XHash._

/** Lexical (BM25) retrieval and lexical+semantic hybrid search over the
  * corpus — the retrieval stages a curation pipeline runs for
  * decontamination lookups, targeted corpus audits, and RAG-style eval-set
  * construction. Complements the ANN family in [[Similarity]]: BM25 is the
  * inverted-index arm, cosine kNN the embedding arm, and reciprocal-rank
  * fusion (RRF) combines them rank-wise (no score calibration needed —
  * the reason RRF is the default fusion in production search).
  *
  * Queries are pseudo-queries: documents with `doc_id < `[[QMax]] retrieve
  * against the rest of the corpus (the doc-as-query protocol; `vec_id`
  * aligns 1:1 with `doc_id` in the test tables, so both arms rank the
  * same id space).
  *
  * Cross-engine exactness: BM25's idf and length-normalized tf terms are
  * IEEE doubles computed with the identical operation order in both
  * engines, scaled to longs per (query, doc, term) BEFORE the per-doc sum
  * (the [[Exact]] discipline — also what makes the 100 TB sum
  * partition-order-independent); RRF contributions are `1/(60+rank)`
  * scaled likewise.
  *
  * Scale shape: one tokenize pass builds postings `(doc, term, tf)`; the
  * query-term table is tiny and broadcast, so the postings join never
  * shuffles the corpus; document-frequency and doc-length attach on slim
  * long keys. Terms in more than half the corpus are dropped from scoring
  * (idf ≈ 0 but join fan-out ∝ df — the same quadratic-hot-key argument
  * as [[XHash.MaxDf]]); the cap is corpus-relative and mirrored in the
  * oracle. Reference anchor: generalizes the keyed point-lookup of
  * `git_etl.ts:141-153` to ranked retrieval.
  */
object Retrieval {

  /** BM25 shape parameters (standard Robertson defaults). */
  val K1 = 1.2
  val B = 0.75

  /** Late-interaction (MaxSim) shape: [[LiDim]]-dim deterministic token
    * vectors, [[LiQ]] pseudo-queries, [[LiCand]] lexical-prefilter
    * candidates re-ranked per query. */
  val LiDim = 8
  val LiQ = 4
  val LiCand = 50

  /** Integer dot product of the deterministic [[LiDim]]-dim token vectors
    * of two token hashes — component j is `((A_j·h + B_j) % P) % 7 − 3`
    * (small ints centered on 0, derived from the MinHash permutation
    * constants). One SQL text valid in BOTH engines: every operand is a
    * non-negative long before the subtraction, so `%` agrees. */
  private def liDot(a: String, b: String): String =
    (0 until LiDim).map { j =>
      s"((((${XHash.A(j)} * $a + ${XHash.B(j)}) % ${XHash.P}) % 7 - 3) * " +
        s"(((${XHash.A(j)} * $b + ${XHash.B(j)}) % ${XHash.P}) % 7 - 3))"
    }.mkString(" + ")
  /** Pseudo-query docs: doc_id < QMax. */
  val QMax = 8
  /** Per-arm candidate depth feeding RRF. */
  val ArmK = 10
  /** RRF dampening constant (Cormack et al.'s 60). */
  val RrfK0 = 60

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** BM25 contributions summed per (query, candidate): `(q_id, doc_id,
    * s6)` with s6 = sum of scaled-long per-term scores. Shared by the
    * standalone entry and the hybrid's lexical arm. */
  private[llm] def bm25Scores(s: SparkSession, dir: String): DataFrame =
    bm25ScoresOf(docs(s, dir))

  /** [[bm25Scores]] over an arbitrary `(doc_id, text, ...)` corpus. */
  private[graft] def bm25ScoresOf(corpus: DataFrame): DataFrame = {
    // toks feeds dl, tf, and (via tf) query terms — materialize once
    val toks = corpus
      .selectExpr("doc_id", s"${sparkWordHashes("text")} AS wh")
      .where(expr("size(wh) >= 1"))
      .localCheckpoint()
    val dl = toks.selectExpr("doc_id", "CAST(size(wh) AS BIGINT) AS dl")
    val tf = toks.selectExpr("doc_id", "explode(wh) AS h")
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("m"))
      .localCheckpoint()
    bm25FromParts(tf, dl, dfcOf(tf, dl))
  }

  /** Document-frequency table with denormalized corpus stats — `(h, f,
    * n_docs, avgdl)`, stop-term capped at half the corpus
    * (corpus-relative). The "stats" tier of the index: one slim
    * aggregation pass over postings keys + doc lengths. */
  private[graft] def dfcOf(tf: DataFrame, dl: DataFrame): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .selectExpr("n_docs", "CAST(sum_dl AS DOUBLE) / n_docs AS avgdl")
    tf.groupBy(col("h")).agg(count(lit(1)).as("f"))
      .crossJoin(broadcast(stats))
      .where(expr("f <= n_docs DIV 2"))
      .select(col("h"), col("f"), col("n_docs"), col("avgdl"))
  }

  /** BM25 scoring from index parts — postings `tf(doc_id, h, m)`, doc
    * lengths `dl(doc_id, dl)`, df/stats `dfc(h, f, n_docs, avgdl)`.
    * Shared verbatim by the one-shot build and the persisted-store serve
    * path ([[IncrementalRetrieval]]) — the operation order IS the
    * cross-engine exactness contract, so there is exactly one copy. */
  private[graft] def bm25FromParts(tf: DataFrame, dl: DataFrame,
                                   dfc: DataFrame): DataFrame = {
    // query terms: distinct per pseudo-query doc (tf is already distinct
    // per (doc, term)); tiny — broadcast into the postings join
    val qt = tf.where(col("doc_id") < QMax)
      .select(col("doc_id").as("q_id"), col("h"))
    val contrib = tf.join(broadcast(qt), "h")
      .where(col("doc_id") =!= col("q_id"))
      .join(dfc, "h")
      .join(dl, "doc_id")
      .withColumn("c6", Exact.scaled(
        expr("log((n_docs - f + 0.5) / (f + 0.5) + 1.0)") *
          expr(s"(CAST(m AS DOUBLE) * ${1.0 + K1}) / (CAST(m AS DOUBLE) + " +
            s"$K1 * (${1.0 - B} + $B * (CAST(dl AS DOUBLE) / avgdl)))"), 6))
    contrib.groupBy(col("q_id"), col("doc_id")).agg(sum(col("c6")).as("s6"))
  }

  /** Top-5-per-query presentation of a `(q_id, doc_id, s6)` score table —
    * the q_llm_bm25 output shape, shared with the incremental serve. */
  private[graft] def bm25Rank(sc: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("s6").desc, col("doc_id"))
    sc.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("doc_id"),
        (col("s6") / lit(1000000.0)).as("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Exact-cosine semantic arm: `(q_id, id, rank_a)`, top [[ArmK]] per
    * query, self excluded — the brute-kNN shape from [[Similarity]]. */
  private def annRanks(s: SparkSession, dir: String): DataFrame = {
    val se = Similarity.scaledEmb(s, dir)
    val qs = se.where(col("vec_id") < QMax)
      .select(col("vec_id").as("q_id"), col("se").as("qse"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("id"))
    se.crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id AS id",
        "CAST(graft_dot(qse, se) AS DOUBLE) / (qnrm * nrm) AS cos_raw")
      .withColumn("rank_a", row_number().over(w))
      .where(col("rank_a") <= ArmK)
      .select(col("q_id"), col("id"), col("rank_a"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Standalone BM25 top-5 per pseudo-query.
    "q_llm_bm25" -> { (s, dir) => bm25Rank(bm25Scores(s, dir)) },

    // Hybrid search: RRF over the BM25 and exact-cosine arms. Each arm
    // contributes 1/(60+rank) for its top-10; a candidate absent from an
    // arm contributes 0 (full outer join of the two slim rank lists —
    // arm outputs are O(queries × 10), so the fusion is trivially small
    // however large the corpus). in_lex/in_sem flag arm membership.
    "q_llm_hybrid_search" -> { (s, dir) =>
      val wb = Window.partitionBy(col("q_id")).orderBy(col("s6").desc, col("id"))
      val lex = bm25Scores(s, dir)
        .withColumn("id", col("doc_id"))
        .withColumn("rank_b", row_number().over(wb))
        .where(col("rank_b") <= ArmK)
        .select(col("q_id"), col("id"), col("rank_b"))
      val sem = annRanks(s, dir)
      val fused = lex.join(sem, Seq("q_id", "id"), "full_outer")
        .withColumn("rb6", when(col("rank_b").isNull, lit(0L))
          .otherwise(Exact.scaled(expr(s"1.0 / ($RrfK0 + rank_b)"), 6)))
        .withColumn("ra6", when(col("rank_a").isNull, lit(0L))
          .otherwise(Exact.scaled(expr(s"1.0 / ($RrfK0 + rank_a)"), 6)))
        .withColumn("rrf6", col("rb6") + col("ra6"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("rrf6").desc, col("id"))
      fused.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("id").as("doc_id"),
          (col("rrf6") / lit(1000000.0)).as("rrf"),
          col("rank_b").isNotNull.cast("int").as("in_lex"),
          col("rank_a").isNotNull.cast("int").as("in_sem"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Late-interaction retrieval (ColBERT-style MaxSim): score(q, d) =
    // Σ over q's tokens of the MAX token-vector dot product against d's
    // tokens — token-level matching that credits partial phrase overlap
    // where BM25's bag-of-words and the doc-vector cosine arm both
    // average it away. Token vectors here are deterministic LiDim-dim
    // integer vectors derived from the token hash (the operator shape is
    // the point; swap in learned vectors and nothing else changes).
    // Scale shape = the production two-stage serve: candidates come from
    // a LEXICAL PREFILTER (shared df-capped tokens, top-LiCand per query
    // by overlap count — an inverted-index join, never corpus×queries),
    // and only the ≤ LiQ × LiCand survivors pay the |q_tok| × |d_tok|
    // MaxSim join. All-integer scoring ⇒ bit-exact oracle.
    "q_llm_late_interaction" -> { (s, dir) =>
      val toks = docs(s, dir)
        .selectExpr("doc_id", s"explode(${sparkWordHashes("text")}) AS h")
        .distinct().localCheckpoint()
      val nd = toks.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_docs"))
      val capped = toks.groupBy(col("h")).agg(count(lit(1)).as("f"))
        .crossJoin(broadcast(nd)).where(expr("f <= n_docs DIV 2"))
        .select(col("h"))
      val tc = toks.join(capped, "h").localCheckpoint()
      val qt = tc.where(col("doc_id") < LiQ)
        .select(col("doc_id").as("q_id"), col("h").as("qh"))
      val cand = tc.join(broadcast(qt), col("h") === col("qh"))
        .where(col("doc_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("n_shared").desc, col("doc_id"))))
        .where(col("rn") <= LiCand)
        .select(col("q_id"), col("doc_id"), col("n_shared"))
        .localCheckpoint()
      val pairs = cand
        .join(qt, "q_id")
        .join(tc.select(col("doc_id"), col("h").as("dh")), "doc_id")
        .selectExpr("q_id", "doc_id", "n_shared", "qh",
          s"${liDot("qh", "dh")} AS dp")
      val ms = pairs.groupBy(col("q_id"), col("doc_id"), col("n_shared"), col("qh"))
        .agg(max(col("dp")).as("m"))
        .groupBy(col("q_id"), col("doc_id"), col("n_shared"))
        .agg(sum(col("m")).as("maxsim"))
      ms.withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("maxsim").desc, col("doc_id"))))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("doc_id"), col("maxsim"),
          col("n_shared"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Per-source distinctive vocabulary by TF-IDF: tf = total occurrences
    // of the term within the source, idf = ln(n_docs / df) over the whole
    // corpus, top-5 terms per source — the "what is this slice actually
    // made of" audit that names a source's signature vocabulary (corpus
    // card material, and the first diagnostic when a mixture weight
    // shifts). Stop terms are dropped with the same corpus-relative cap
    // as BM25 (df <= n_docs/2): their idf ≈ 0 but their postings fan-out
    // is the scale hazard. Shape: the postings/df tables BM25 already
    // builds, one more hash agg to (source, term), a top-k window over
    // sources×terms partitions — no joins wider than slim long keys.
    "q_llm_tfidf_terms" -> { (s, dir) =>
      val toks = docs(s, dir)
        .selectExpr("doc_id", "source", s"${sparkWordHashes("text")} AS wh")
        .where(expr("size(wh) >= 1"))
        .selectExpr("doc_id", "source", "explode(wh) AS h")
        .localCheckpoint()
      val nDocs = toks.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_docs"))
      val dfreq = toks.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("f"))
        .crossJoin(broadcast(nDocs))
        .where(expr("f <= n_docs DIV 2"))
      val tf = toks.groupBy(col("source"), col("h")).agg(count(lit(1)).as("tf"))
      val scored = tf.join(dfreq, "h")
        .withColumn("s6", Exact.scaled(
          expr("CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / f)"), 6))
      val w = Window.partitionBy(col("source")).orderBy(col("s6").desc, col("h"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("source"), col("rank"), col("h"), col("tf"),
          col("f").as("df"), (col("s6") / lit(1000000.0)).as("tfidf"))
        .orderBy(col("source"), col("rank"))
    })

  /** Shared oracle CTE chain computing BM25 s6 per (q_id, doc_id), over
    * an arbitrary source relation (a table or a prior CTE — lets the
    * incremental-forget oracle score the kept corpus). */
  private[llm] def duckBm25Ctes(src: String = "documents"): String = s"""
      toks AS (
        SELECT doc_id, wh FROM (
          SELECT doc_id, ${duckWordHashes("text")} AS wh FROM $src)
        WHERE len(wh) >= 1),
      d AS (SELECT doc_id, CAST(len(wh) AS BIGINT) AS dl FROM toks),
      stats AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM d),
      tf AS (
        SELECT doc_id, h, count(*) AS m
        FROM (SELECT doc_id, unnest(wh) AS h FROM toks) GROUP BY doc_id, h),
      dfc AS (
        SELECT h, f, n_docs, avgdl FROM
          (SELECT h, count(*) AS f FROM tf GROUP BY h), stats
        WHERE f <= n_docs // 2),
      qt AS (SELECT doc_id AS q_id, h FROM tf WHERE doc_id < $QMax),
      contrib AS (
        SELECT qt.q_id, tf.doc_id,
               ${Exact.sqlScaled(
                 s"(ln((n_docs - f + 0.5) / (f + 0.5) + 1.0)) * " +
                 s"((CAST(m AS DOUBLE) * ${1.0 + K1}) / (CAST(m AS DOUBLE) + " +
                 s"$K1 * (${1.0 - B} + $B * (CAST(dl AS DOUBLE) / avgdl))))", 6)} AS c6
        FROM tf
        JOIN qt USING (h)
        JOIN dfc USING (h)
        JOIN d ON tf.doc_id = d.doc_id
        WHERE tf.doc_id <> qt.q_id),
      sc AS (SELECT q_id, doc_id, sum(c6) AS s6 FROM contrib GROUP BY q_id, doc_id)"""

  /** Complete one-shot BM25 SQL over `src` — the WITH is left open so a
    * caller can prepend its own CTE (the incremental-forget `bkept`
    * pattern, [[IncrementalAnn.oracleSql]]). */
  private[llm] def duckBm25Sql(src: String = "documents"): String = s"""
      WITH ${duckBm25Ctes(src)},
      r AS (
        SELECT q_id, doc_id, s6,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY s6 DESC, doc_id) AS INT) AS rank
        FROM sc)
      SELECT q_id, rank, doc_id, s6 / 1000000.0 AS score
      FROM r WHERE rank <= 5 ORDER BY q_id, rank"""

  def oracleSql: Map[String, String] = Map(

    "q_llm_bm25" -> duckBm25Sql(),

    "q_llm_hybrid_search" -> s"""
      WITH ${duckBm25Ctes()},
      lex AS (
        SELECT q_id, doc_id AS id,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY s6 DESC, doc_id) AS INT) AS rank_b
        FROM sc QUALIFY rank_b <= $ArmK),
      e0 AS (SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (
        SELECT vec_id, se, sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm
        FROM e0),
      q AS (SELECT vec_id AS q_id, se AS qse, nrm AS qnrm FROM e WHERE vec_id < $QMax),
      sem AS (
        SELECT q_id, id, rank_a FROM (
          SELECT q_id, e.vec_id AS id,
                 CAST(row_number() OVER (PARTITION BY q_id ORDER BY
                   CAST(${duckPairDot("qse", "se")} AS DOUBLE) / (qnrm * nrm) DESC,
                   e.vec_id) AS INT) AS rank_a
          FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
        WHERE rank_a <= $ArmK),
      fused AS (
        SELECT COALESCE(lex.q_id, sem.q_id) AS q_id,
               COALESCE(lex.id, sem.id) AS id,
               rank_b, rank_a,
               (CASE WHEN rank_b IS NULL THEN 0
                     ELSE ${Exact.sqlScaled(s"1.0 / ($RrfK0 + rank_b)", 6)} END
                + CASE WHEN rank_a IS NULL THEN 0
                       ELSE ${Exact.sqlScaled(s"1.0 / ($RrfK0 + rank_a)", 6)} END) AS rrf6
        FROM lex FULL JOIN sem ON lex.q_id = sem.q_id AND lex.id = sem.id),
      rr AS (
        SELECT q_id, id, rrf6, rank_b, rank_a,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY rrf6 DESC, id) AS INT) AS rank
        FROM fused)
      SELECT q_id, rank, id AS doc_id, rrf6 / 1000000.0 AS rrf,
             CAST(rank_b IS NOT NULL AS INT) AS in_lex,
             CAST(rank_a IS NOT NULL AS INT) AS in_sem
      FROM rr WHERE rank <= 5 ORDER BY q_id, rank""",

    // mirror of q_llm_late_interaction: identical distinct-token /
    // df-cap / prefilter / MaxSim chain, the same unrolled integer dot
    "q_llm_late_interaction" -> s"""
      WITH toks AS (
        SELECT DISTINCT doc_id, h FROM (
          SELECT doc_id, unnest(${duckWordHashes("text")}) AS h FROM documents)),
      nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
      capped AS (
        SELECT h FROM (SELECT h, count(*) AS f FROM toks GROUP BY h), nd
        WHERE f <= n_docs // 2),
      tc AS (SELECT toks.* FROM toks JOIN capped USING (h)),
      qt AS (SELECT doc_id AS q_id, h AS qh FROM tc WHERE doc_id < $LiQ),
      cand AS (
        SELECT q_id, doc_id, n_shared FROM (
          SELECT q_id, doc_id, count(*) AS n_shared,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY count(*) DESC, doc_id) AS rn
          FROM tc JOIN qt ON tc.h = qt.qh
          WHERE tc.doc_id <> qt.q_id
          GROUP BY q_id, doc_id)
        WHERE rn <= $LiCand),
      pairs AS (
        SELECT c.q_id, c.doc_id, c.n_shared, q.qh,
               ${liDot("q.qh", "d.h")} AS dp
        FROM cand c
        JOIN qt q ON q.q_id = c.q_id
        JOIN tc d ON d.doc_id = c.doc_id),
      permax AS (
        SELECT q_id, doc_id, n_shared, qh, max(dp) AS m
        FROM pairs GROUP BY q_id, doc_id, n_shared, qh),
      ms AS (
        SELECT q_id, doc_id, n_shared, CAST(sum(m) AS BIGINT) AS maxsim
        FROM permax GROUP BY q_id, doc_id, n_shared),
      r AS (
        SELECT q_id, doc_id, maxsim, n_shared,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY maxsim DESC, doc_id) AS INT) AS rank
        FROM ms)
      SELECT q_id, rank, doc_id, maxsim, n_shared
      FROM r WHERE rank <= 5 ORDER BY q_id, rank""",

    // mirror of q_llm_tfidf_terms: same postings/df tables, same stop cap,
    // identical tf·ln(n_docs/f) operand order scaled at 6 decimals
    "q_llm_tfidf_terms" -> s"""
      WITH toks AS (
        SELECT doc_id, source, unnest(wh) AS h FROM (
          SELECT doc_id, source, ${duckWordHashes("text")} AS wh FROM documents)
        WHERE len(wh) >= 1),
      nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
      dfreq AS (
        SELECT h, f, n_docs FROM
          (SELECT h, count(*) AS f
           FROM (SELECT DISTINCT doc_id, h FROM toks) GROUP BY h), nd
        WHERE f <= n_docs // 2),
      tf AS (SELECT source, h, count(*) AS tf FROM toks GROUP BY source, h),
      scored AS (
        SELECT source, h, tf, f,
               ${Exact.sqlScaled(
                 "CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / f)", 6)} AS s6
        FROM tf JOIN dfreq USING (h)),
      r AS (
        SELECT source, h, tf, f, s6,
               CAST(row_number() OVER (PARTITION BY source
                 ORDER BY s6 DESC, h) AS INT) AS rank
        FROM scored)
      SELECT source, rank, h, tf, f AS df, s6 / 1000000.0 AS tfidf
      FROM r WHERE rank <= 5 ORDER BY source, rank""")
}
