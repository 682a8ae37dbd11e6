package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.llm.XHash._
import graft.util.{Exact, Streams}

/** Similarity search over the `embeddings` table (north-star operator).
  *
  * Two paths, same output shape, so a user can trade recall for cost:
  *  - `q_llm_knn_brute`: exact cosine top-k. The query set is small and
  *    BROADCAST; the corpus streams past it — one scan, no shuffle of the
  *    corpus, embarrassingly parallel. This is the right "brute force" at
  *    100 TB when the query side fits in memory (it's the corpus that's
  *    huge, and it is never self-joined).
  *  - `q_llm_knn_lsh`: hyperplane-LSH bucketed ANN. Corpus and queries are
  *    bucketed by 4 sign bits (16 buckets); candidates come from a bucket
  *    equi-join (hash shuffle on bucket), then exact cosine re-ranks within
  *    the bucket. Recall < 1 by design; the plan is O(N/buckets) per query.
  *
  * Dot products use scaled-long embeddings (exact, order-independent — see
  * [[XHash.sparkScaledEmb]]) and are UNROLLED 64-term integer expressions,
  * which keeps them inside whole-stage codegen (no higher-order functions
  * in the hot pair loop).
  */
object Similarity {

  /** vec_id, scaled-long embedding, precomputed norm. Norms are computed
    * ONCE per vector before any join (O(N), not O(pairs)); dot products go
    * through the native codegen kernel [[graft.functions.LongDot]]. */
  private[llm] def scaledEmb(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .selectExpr("vec_id", s"${sparkScaledEmb("embedding")} AS se")
      .selectExpr("vec_id", "se",
        "sqrt(CAST(graft_dot(se, se) AS DOUBLE)) AS nrm")
  }

  /** [[scaledEmb]] plus the `label` column (for per-class audits). */
  private def scaledEmbWithLabel(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .selectExpr("vec_id", "label", s"${sparkScaledEmb("embedding")} AS se")
      .selectExpr("vec_id", "label", "se",
        "sqrt(CAST(graft_dot(se, se) AS DOUBLE)) AS nrm")
  }

  private def cosExpr(a: String, b: String, na: String, nb: String): String =
    s"CAST(graft_dot($a, $b) AS DOUBLE) / ($na * $nb)"

  private def duckCosExpr(a: String, b: String, na: String, nb: String): String =
    s"CAST(${duckPairDot(a, b)} AS DOUBLE) / ($na * $nb)"

  /** IVF coarse-quantizer shape: cell-count FLOOR and Lloyd refinement
    * rounds. The actual cell count is CORPUS-RELATIVE:
    * `greatest(CellsFloor, isqrt(N))` (see [[cellsSql]]) — computed inside
    * the plan from a 1-row count aggregate broadcast into the seeded init
    * (no driver action), and embedded as the identical scalar subquery in
    * the oracle. A fixed cell count has the same scale cliff the absolute
    * df cap had: at 100× corpus, per-cell population grows 100× and every
    * within-cell pair join (SemDeDup) degrades quadratically. With
    * ~sqrt(N) cells, per-cell population grows as sqrt(N): assignment
    * costs N·sqrt(N) dot products per Lloyd round (the standard IVF
    * training trade — production trains on a sample when N·sqrt(N) bites)
    * and the centroid broadcast stays tiny (isqrt(1e10) = 1e5 rows).
    * The floor keeps small-corpus behavior stable; at the test SFs
    * (N = 500/2000) the relative arm ALREADY fires (22/44 cells), so the
    * driver's oracle gate exercises it at every scale. */
  val CellsFloor = 16
  val LloydRounds = 2

  /** Exact integer sqrt as engine-portable SQL: floor(sqrt(n)) in doubles,
    * then a ±1 integer correction — IEEE sqrt is correctly rounded, so the
    * double estimate is off by at most one for any n < 2^52, and the CASE
    * repairs both directions with pure long arithmetic. floor-before-cast
    * keeps DuckDB's round-on-cast out of play. */
  private def isqrtSql(n: String): String = {
    val s0 = s"CAST(floor(sqrt(CAST(($n) AS DOUBLE))) AS BIGINT)"
    s"(CASE WHEN ($s0 + 1) * ($s0 + 1) <= ($n) THEN $s0 + 1 " +
      s"WHEN $s0 * $s0 > ($n) THEN $s0 - 1 ELSE $s0 END)"
  }

  /** Corpus-relative cell count `greatest(floor, isqrt(n))` — one SQL text,
    * valid in both engines (the MaxDfRatio pattern, XHash.scala:50-66). */
  private[graft] def cellsSql(n: String, floor: Int): String =
    s"greatest(CAST($floor AS BIGINT), ${isqrtSql(n)})"

  /** 1-row (n_cells BIGINT) table derived from the corpus count — kept IN
    * the plan (broadcast into the seeded init), mirroring
    * [[Dedup.corpusCountOf]]'s no-driver-action idiom. */
  private[graft] def cellCountOf(se: DataFrame, floor: Int = CellsFloor): DataFrame =
    se.agg(count(lit(1)).as("n_vec"))
      .selectExpr(s"${cellsSql("n_vec", floor)} AS n_cells")

  /** Training-sample budget per cell: k-means centroid quality needs
    * O(cells · c) points (the coreset argument), so Lloyd rounds train on
    * ~TrainPerCell vectors per cell instead of the full corpus. 64 keeps
    * the init-cell population safely non-empty (P[empty] ≈ e⁻⁶⁴) while
    * making the per-round cost O(√N·c). */
  val TrainPerCell = 64

  /** Second hash multiplier (xxHash PRIME32_2 — a public constant) for
    * the training-sample filter. MUST differ from the cell-init
    * multiplier 2654435761: `h2 % t_mod = 0` composed with `h1 %
    * n_cells` would otherwise restrict init cells to multiples of
    * gcd(t_mod, n_cells). */
  val TrainHash = 2246822519L

  /** Sample modulus (Spark SQL; the DuckDB mirror spells integer
    * division `//`): 1 — sample = corpus — until N exceeds the per-cell
    * budget. */
  private def trainModSql(nVec: String, nCells: String): String =
    s"greatest(CAST(1 AS BIGINT), ($nVec) DIV (($nCells) * $TrainPerCell))"

  /** 1-row (n_cells, t_mod) stats table, derived in-plan from the corpus
    * count and broadcast into the seeded init + sample filter — the
    * [[cellCountOf]] no-driver-action idiom widened by the training
    * sample modulus. */
  private[graft] def trainStatsOf(se: DataFrame, floor: Int = CellsFloor): DataFrame =
    se.agg(count(lit(1)).as("n_vec"))
      .selectExpr("n_vec", s"${cellsSql("n_vec", floor)} AS n_cells")
      .selectExpr("n_cells", s"${trainModSql("n_vec", "n_cells")} AS t_mod")

  /** SemDeDup drop threshold: within-cell pairs at or above this cosine
    * are semantic duplicates. Both engines compare the identical IEEE
    * double (same long dot, same sqrt, same division), so the boundary
    * cannot diverge. */
  val SemThreshold = 0.25

  /** Product-quantization shape: [[PqM]] subspaces of EmbDim/PqM dims,
    * [[PqKs]] codes per subspace codebook, one Lloyd refinement round. */
  val PqM = 4
  val PqKs = 8
  private val SubDim = EmbDim / PqM

  /** Greedy k-center round count (coreset size) for
    * [[q_llm_kcenter_sample]]. */
  val KCenters = 8

  /** MMR re-ranking shape: [[MmrQ]] pseudo-queries, [[MmrArm]] candidates
    * per query from the exact-cosine arm, [[MmrK]] greedy selections with
    * relevance/diversity weight λ = 1/2. */
  val MmrQ = 6
  val MmrArm = 10
  val MmrK = 5

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein '98):
    * greedily pick K results maximizing λ·rel(q,d) − (1−λ)·max sim(d, S)
    * over the already-selected set S — the diversity re-rank a RAG
    * retrieval stage runs so the context window isn't K near-copies of
    * the same passage. Round 1 is the pure-relevance argmax; rounds 2..K
    * score `(rel6 − maxsim6) DIV 2` (λ = 1/2 in scaled-long integers —
    * truncating division matches both engines on negatives).
    *
    * Scale shape: the expensive part is CANDIDATE GENERATION, which is
    * the existing ANN arm (brute here at test scale; IVF/LSH serve the
    * same (q_id, id, rel) contract at 100 TB). The re-rank itself only
    * ever touches O(queries × [[MmrArm]]) rows: the pairwise sim table is
    * per-query [[MmrArm]]² — bounded by the arm width, NOT the corpus —
    * and each greedy round is one windowed argmax + one keyed join
    * against the single new winner (the k-center fold shape, not a
    * K × selected rescan). Every round's state is localCheckpoint'ed so
    * lineage stays flat at any K. */
  private[graft] def mmrSelect(s: SparkSession, dir: String): DataFrame = {
    val se = scaledEmb(s, dir)
    val qs = se.where(col("vec_id") < MmrQ)
      .select(col("vec_id").as("q_id"), col("se").as("qse"), col("nrm").as("qnrm"))
    val wc = Window.partitionBy(col("q_id")).orderBy(col("rel6").desc, col("id"))
    val cand = se.crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("id"), col("se"), col("nrm"),
        Exact.scaled(expr(cosExpr("qse", "se", "qnrm", "nrm")), 6).as("rel6"))
      .withColumn("rk", row_number().over(wc)).where(col("rk") <= MmrArm)
      .select("q_id", "id", "se", "nrm", "rel6").localCheckpoint()
    val simr = cand.as("a").join(cand.as("b"),
        col("a.q_id") === col("b.q_id") && col("a.id") =!= col("b.id"))
      .select(col("a.q_id").as("sq"), col("a.id").as("ia"), col("b.id").as("ib"),
        Exact.scaled(expr(cosExpr("a.se", "b.se", "a.nrm", "b.nrm")), 6).as("sim6"))
      .localCheckpoint()
    def argmax(st: DataFrame, score: org.apache.spark.sql.Column): DataFrame =
      st.withColumn("score6", score)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("score6").desc, col("id"))))
        .where(col("rn") === 1)
        .select(col("q_id"), col("id").as("wid"), col("score6"))
    val w1 = argmax(cand, col("rel6"))
    var sel = w1.select(col("q_id"), lit(1).as("round"),
      col("wid").as("vec_id"), col("score6"))
    var state = cand.select("q_id", "id", "rel6")
      .join(w1.select(col("q_id"), col("wid")), Seq("q_id"))
      .where(col("id") =!= col("wid"))
      .join(simr, col("q_id") === col("sq") && col("id") === col("ia") &&
        col("wid") === col("ib"))
      .select(col("q_id"), col("id"), col("rel6"), col("sim6").as("maxsim6"))
      .localCheckpoint()
    for (r <- 2 to MmrK) {
      val wr = argmax(state, expr("(rel6 - maxsim6) DIV 2"))
      sel = sel.union(wr.select(col("q_id"), lit(r).as("round"),
        col("wid").as("vec_id"), col("score6")))
      if (r < MmrK)
        state = state
          .join(wr.select(col("q_id").as("wq"), col("wid")), col("q_id") === col("wq"))
          .where(col("id") =!= col("wid"))
          .join(simr, col("q_id") === col("sq") && col("id") === col("ia") &&
            col("wid") === col("ib"))
          .select(col("q_id"), col("id"), col("rel6"),
            greatest(col("maxsim6"), col("sim6")).as("maxsim6"))
          .localCheckpoint()
    }
    sel.select(col("q_id"), col("round"), col("vec_id"),
        (col("score6") / lit(1000000.0)).as("mmr"))
      .orderBy(col("q_id"), col("round"))
  }

  /** Gonzalez greedy k-center (farthest-point) coreset selection: seed =
    * the max-|x|² vector, then each round adds the point farthest from
    * its nearest already-chosen center (exact integer squared-Euclidean
    * maximin, ties broken by vec_id). The running min-distance column is
    * FOLDED — round r joins the corpus against only the ONE new center (a
    * 1-row broadcast), so the whole selection costs K corpus scans, not
    * K × K center joins. The per-round argmax is `orderBy(...).limit(1)`,
    * which Spark plans as TakeOrdered — per-partition top-1 then an
    * O(partitions) driver merge, never a global sort. At 100 TB this is
    * the honest distributed greedy k-center (production variants run it
    * on a uniform pre-sample; the operator shape is identical). Each
    * round's state is materialized through the [[graft.util.Checkpointer]]
    * knob so lineage stays flat at any K. Output: (round, vec_id,
    * radius2) — radius2 the maximin distance at selection (monotone
    * non-increasing from round 2; the k-center coverage-radius
    * certificate), all exact long arithmetic in both engines. */
  private[graft] def kcenterCenters(se0: DataFrame,
                                    k: Int = KCenters,
                                    ckpt: graft.util.Checkpointer =
                                      graft.util.Checkpointer.Local): DataFrame = {
    val base = se0.selectExpr("vec_id", "se", "graft_dot(se, se) AS n2")
    val c1 = ckpt(base.orderBy(col("n2").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("c_id"), col("se").as("cse"), col("n2").as("cn2")))
    var sel = c1.selectExpr("CAST(1 AS INT) AS round", "c_id AS vec_id",
      "CAST(0 AS BIGINT) AS radius2")
    var state = ckpt(base.crossJoin(broadcast(c1))
      .selectExpr("vec_id", "se", "n2",
        "n2 - 2L * graft_dot(se, cse) + cn2 AS mind"))
    for (r <- 2 to k) {
      val nc = ckpt(state.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("c_id"), col("se").as("cse"),
          col("n2").as("cn2"), col("mind").as("r2")))
      sel = sel.union(nc.selectExpr(s"CAST($r AS INT) AS round",
        "c_id AS vec_id", "r2 AS radius2"))
      if (r < k)
        state = ckpt(state.crossJoin(broadcast(nc.select(col("cse"), col("cn2"))))
          .selectExpr("vec_id", "se", "n2",
            "least(mind, n2 - 2L * graft_dot(se, cse) + cn2) AS mind"))
    }
    sel
  }

  /** Deterministic k-means over the scaled-long embeddings, entirely as
    * DataFrame aggregations (no driver-side loops over data): seeded init
    * assigns each vector to cell `hash(vec_id) mod n_cells` — n_cells the
    * corpus-relative [[cellCountOf]] broadcast — then [[LloydRounds]]
    * reassign-and-recompute rounds. Centroid components are
    * truncated integer means (`sum DIV n` — both engines truncate toward
    * zero, so training is bit-reproducible in DuckDB; the long sum wraps
    * only past ~9e12 rows per cell at 1e6-magnitude components, far beyond
    * any realistic cell, while DuckDB sums to HUGEINT — the one documented
    * theoretical divergence). Each round costs one corpus scan + one hash
    * aggregation; the isqrt(N)-row result is `localCheckpoint`ed per round
    * so lineage stays flat however deep the refinement goes, and the two
    * downstream uses (corpus assignment, query probing) don't re-run
    * training. `floor` is the production [[CellsFloor]]; specs override it
    * to fire the relative arm at tiny N (the df-cap ratio pattern).
    *
    * Training is SAMPLE-BOUNDED (the standard production IVF trade this
    * file's own scale note promises): the seeded init and every Lloyd
    * round run over a deterministic hash-sample of ~[[TrainPerCell]]
    * vectors per cell — sample modulus `t_mod = max(1, N DIV
    * (n_cells·TrainPerCell))`, filter `hash2(vec_id) % t_mod = 0` — so a
    * re-train costs O(√N·c) per round instead of O(N), and at 100 TB the
    * full corpus is scanned exactly once (by the caller's final
    * assignment pass), not once per Lloyd round. Centroid quality needs
    * O(cells·TrainPerCell) points, not O(N) (the k-means coreset
    * argument). The sample hash uses a DIFFERENT multiplier
    * ([[TrainHash]]) than the cell-init hash: filtering `h2 % t_mod = 0`
    * then initializing by `h1 % n_cells` must not restrict init cells to
    * gcd-multiples, and two distinct multiplications mod prime P are
    * independent-enough linear maps. `t_mod` is 1 whenever N ≤
    * n_cells·TrainPerCell (all driver fixture scales: N ≤ 2000, target ≥
    * 2816), so small-corpus outputs are bit-unchanged — the capSimBands
    * no-op-at-fixture-scale pattern. At generated sf1 (N = 500k,
    * cells = 707) t_mod = 11 and training touches ~45k vectors. */
  private[graft] def kmeansCentroids(se: DataFrame,
                                   ckpt: graft.util.Checkpointer =
                                     graft.util.Checkpointer.Local,
                                   floor: Int = CellsFloor): DataFrame = {
    val sums = (1 to EmbDim).map(i => sum(expr(s"element_at(se, $i)")).as(s"s$i"))
    val mean = (1 to EmbDim).map(i => s"s$i DIV n").mkString("array(", ", ", ")")
    def centroidsOf(assigned: DataFrame): DataFrame =
      assigned.groupBy(col("cell").as("cent_id"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .selectExpr("cent_id", s"$mean AS cse")
        .selectExpr("cent_id", "cse", "graft_dot(cse, cse) AS cn2")
    // the training sample: hash-filtered against the broadcast 1-row
    // (n_cells, t_mod) stats, materialized ONCE (through the ckpt knob)
    // so the corpus is scanned once for all of training — each Lloyd
    // round re-reads the ~TrainPerCell·cells-row sample, not the corpus
    val ts = ckpt(se.crossJoin(broadcast(trainStatsOf(se, floor)))
      .where(expr(s"vec_id % $P * $TrainHash % $P % t_mod = 0")))
    val init = ts.selectExpr("vec_id", "se",
        s"vec_id % $P * 2654435761L % $P % n_cells AS cell")
    // per-round materialization (through the Checkpointer knob — Local
    // for bench/test speed, Reliable/Store when executor loss must be
    // survivable): each round's isqrt(N)-row centroid table is materialized, so
    // round r+1's plan never re-embeds rounds 1..r — lineage (and
    // recompute-on-reference) stays flat at any LloydRounds
    var cents = ckpt(centroidsOf(init))
    for (_ <- 1 to LloydRounds) {
      val re = assignCells(ts.select(col("vec_id"), col("se")), cents, 1)
        .select(col("vec_id"), col("se"), col("cent_id").as("cell"))
      cents = ckpt(centroidsOf(re))
    }
    cents
  }

  /** Attach each vector's `n` nearest cells. Nearness is the integer
    * squared-Euclidean argmin — |a−c|² ordered by |c|² − 2·a·c since |a|²
    * is constant per row — so cell choice is exact long arithmetic. The
    * centroid table is collected into ONE packed row (isqrt(N) structs —
    * 1e5 at 1e10 vectors, still a few MB) and broadcast; each vector then
    * evaluates the compiled [[graft.functions.NearestCells]] argmin scan
    * in-register and emits only its n winning cell ids. The previous
    * join-then-rank form (crossJoin every vector with every centroid,
    * row_number window, rn<=n) produced an N·k intermediate row carrying
    * BOTH 64-long arrays per candidate — ≈350 M 1-KB rows at 500 k
    * vectors — and was the measured super-linear term in the sf1 scale
    * runs (IVF forget tail exponent 1.33, recall 1.69); the packed scan
    * computes the identical argmin (same dscore, same ascending cent_id
    * tie-break) at O(N·k) multiply-adds with no intermediate rows. */
  private[llm] def assignCells(df: DataFrame, cents: DataFrame, n: Int): DataFrame = {
    val packed = cents
      .agg(collect_list(struct(col("cent_id"), col("cse"), col("cn2"))).as("_cells"))
    df.crossJoin(broadcast(packed))
      .withColumn("cent_id", explode(expr(s"graft_nearest_cells(se, _cells, $n)")))
      .drop("_cells")
  }

  /** Per-subspace codebooks (m, code, cse, cn2): the same deterministic
    * integer k-means as [[kmeansCentroids]], run on sub-vectors with the
    * subspace id in the grouping key — one aggregation trains all PqM
    * codebooks at once (no per-subspace passes). Salted seeded init, one
    * Lloyd round, truncated integer means; the PqM × PqKs result is a
    * constant-size broadcast. */
  private[graft] def pqCodebooks(subs: DataFrame,
                                 ckpt: graft.util.Checkpointer =
                                   graft.util.Checkpointer.Local): DataFrame = {
    val sums = (1 to SubDim).map(i => sum(expr(s"element_at(sub, $i)")).as(s"s$i"))
    val mean = (1 to SubDim).map(i => s"s$i DIV n").mkString("array(", ", ", ")")
    def codebooksOf(assigned: DataFrame): DataFrame =
      assigned.groupBy(col("m"), col("cell").as("code"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .selectExpr("m", "code", s"$mean AS cse")
        .selectExpr("m", "code", "cse", "graft_dot(cse, cse) AS cn2")
    val init = subs.selectExpr("vec_id", "m", "sub",
      s"(vec_id + m * 40503L) % $P * 2654435761L % $P % $PqKs AS cell")
    var cb = ckpt(codebooksOf(init))
    for (_ <- 1 to 1) {
      val re = pqEncode(subs, cb)
        .select(col("vec_id"), col("m"), col("sub"), col("code").as("cell"))
      cb = ckpt(codebooksOf(re))
    }
    cb
  }

  /** Nearest-code assignment per (vector, subspace): integer squared-
    * Euclidean argmin (|c|² − 2·a·c, |a|² constant per row) against the
    * broadcast codebooks; the rank-1 filter hits WindowGroupLimit. */
  private[graft] def pqEncode(subs: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dscore"), col("code"))
    subs.join(broadcast(cb), Seq("m"))
      .withColumn("dscore", expr("cn2 - 2L * graft_dot(sub, cse)"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("sub"), col("code"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact top-5 neighbors for each query vector (vec_id < 10): corpus
    // scan x broadcast queries, per-query window top-k.
    "q_llm_knn_brute" -> { (s, dir) =>
      val se = scaledEmb(s, dir)
      val qs = se.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("se").as("qse"), col("nrm").as("qnrm"))
      val scored = se.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id",
          s"${cosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw")
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_raw").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .withColumn("cos", Exact.fix(col("cos_raw"), 6))
        .select(col("q_id"), col("rank"), col("neighbor_id"), col("cos"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Matryoshka truncation audit: would retrieval on the PREFIX half of
    // the embedding (dims 0..31) keep the full-dim top-5? Per query:
    // overlap@5 between the full-dim and prefix-dim rankings, plus the
    // regret (sum of full-dim cosines of the prefix-chosen 5 minus the
    // true top-5's, in exact 1e-6 units — integers summed, never floats,
    // so partition order can't move the result). The operator a team
    // runs BEFORE deploying a truncated cheap tier: overlap ~5 and
    // regret ~0 say the prefix carries the geometry. Both dots ride the
    // same pair pass; the prefix dot is an unrolled 32-term integer
    // expression (codegen, like the 64-dim kernel).
    "q_llm_matryoshka_audit" -> { (s, dir) =>
      def preDot(a: String, b: String): String =
        (0 until 32).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
      val base = scaledEmb(s, dir).selectExpr("vec_id", "se", "nrm",
        s"sqrt(CAST(${preDot("se", "se")} AS DOUBLE)) AS pnrm")
      val qs = base.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("se").as("qse"),
          col("nrm").as("qnrm"), col("pnrm").as("qpnrm"))
      val scored = base.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id",
          s"${cosExpr("qse", "se", "qnrm", "nrm")} AS cos_full",
          s"CAST((${preDot("qse", "se")}) AS DOUBLE) / (qpnrm * pnrm) AS cos_pre")
      val rf = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_full").desc, col("neighbor_id"))
      val rp = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_pre").desc, col("neighbor_id"))
      scored
        .withColumn("rf", row_number().over(rf))
        .withColumn("rp", row_number().over(rp))
        .where(col("rf") <= 5 || col("rp") <= 5)
        .withColumn("c6",
          floor(col("cos_full") * lit(1e6) + lit(0.5)).cast("long"))
        .groupBy(col("q_id"))
        .agg(
          count(when(col("rf") <= 5 && col("rp") <= 5, lit(1))).as("n_overlap"),
          (coalesce(sum(when(col("rp") <= 5, col("c6"))), lit(0L)) -
           coalesce(sum(when(col("rf") <= 5, col("c6"))), lit(0L)))
            .cast("long").as("regret_micros"))
        .orderBy(col("q_id"))
    },

    // IVF ANN with a REAL trained coarse quantizer: deterministic k-means
    // (seeded init from hashed vec_ids, 2 Lloyd iterations, all as
    // DataFrame aggregations — no driver-side loops over data), one
    // assignment pass (corpus x broadcast isqrt(N)-row centroid table),
    // queries probe their nprobe=2 nearest cells, exact cosine re-rank
    // inside the probed cells. Assignment/probing use the INTEGER squared-
    // Euclidean form |c|² − 2·a·c (a's own norm is constant per row), so
    // training is exact long arithmetic in both engines. The scale path:
    // corpus scanned once per Lloyd round + once for assignment; each
    // query touches ~nprobe/isqrt(N) of the corpus — the probed fraction
    // SHRINKS as the corpus grows.
    "q_llm_knn_ivf" -> { (s, dir) =>
      val se = scaledEmb(s, dir)
      val cents = kmeansCentroids(se)
      val assigned = assignCells(se, cents, 1)
        .select(col("vec_id"), col("se"), col("nrm"), col("cent_id").as("cell"))
      val probes = assignCells(se.where(col("vec_id") < 10), cents, 2)
        .select(col("vec_id").as("q_id"), col("se").as("qse"),
          col("nrm").as("qnrm"), col("cent_id").as("cell"))
      val scored = assigned.join(probes, Seq("cell"))
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id",
          s"${cosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw")
      scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id"))))
        .where(col("rank") <= 3)
        .withColumn("cos", Exact.fix(col("cos_raw"), 6))
        .select(col("q_id"), col("rank"), col("neighbor_id"), col("cos"))
        .orderBy(col("q_id"), col("rank"))
    },

    "q_llm_knn_recall" -> recallEntry,

    // SemDeDup-style semantic dedup (cluster-level): within each trained
    // k-means cell, a vector is DROPPED when a lower-id vector in the same
    // cell is semantically near-identical (cosine >= SemThreshold); the
    // minimum id of each near-dup group survives as its representative.
    // Pair generation is PER CELL — an equi-join on the trained cell id,
    // never a global self-join — so the quadratic is bounded by the
    // largest cell: with the corpus-relative greatest(16, isqrt(N)) cell
    // count (see cellsSql), expected per-cell population is sqrt(N) and
    // total pair work N^1.5, not N² — the cell count actually scales now,
    // instead of a constant the comment merely promised would. The
    // composition is exactly kmeansCentroids + assignCells (shared with
    // IVF — same trained cells, so dedup groups align with ANN geometry)
    // + the slim-pair cosine verify shape from q_llm_dedup_embed.
    "q_llm_dedup_semantic" -> { (s, dir) =>
      val se = scaledEmb(s, dir)
      val assigned = assignCells(se, kmeansCentroids(se), 1)
        .select(col("vec_id"), col("se"), col("nrm"), col("cent_id").as("cell"))
        .localCheckpoint() // both sides of the pair join + the final verdict scan
      val drops = assigned.alias("a").join(assigned.alias("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .selectExpr("b.vec_id AS vec_id",
          s"${cosExpr("a.se", "b.se", "a.nrm", "b.nrm")} AS cos_raw")
        .where(col("cos_raw") >= SemThreshold)
        .select(col("vec_id")).distinct().withColumn("_drop", lit(1))
      assigned.join(drops, Seq("vec_id"), "left")
        .selectExpr("vec_id", "cell",
          "CASE WHEN _drop IS NULL THEN 1 ELSE 0 END AS kept")
        .orderBy(col("vec_id"))
    },

    // Filtered ANN (hybrid metadata + vector search): neighbors are
    // restricted to vectors whose DOCUMENT passes a relational predicate
    // (lang + length here) — the retrieval shape every RAG/curation
    // pipeline runs. The predicate side reduces to a slim id list
    // semi-joined into the corpus BEFORE any scoring, so at 100 TB the
    // vector math runs only over the filtered subset (pre-filtering, not
    // post-filtering — a post-filter of a top-k can return < k rows).
    "q_llm_knn_filtered" -> { (s, dir) =>
      val se = scaledEmb(s, dir)
      val keep = Tables.load(s, dir, "documents")
        .where(col("lang") === "en" && col("n_chars") >= 200)
        .select(col("doc_id").as("vec_id"))
      val cand = se.join(keep, Seq("vec_id"), "left_semi")
      val qs = se.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("se").as("qse"), col("nrm").as("qnrm"))
      val scored = cand.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id",
          s"${cosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw")
      scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id"))))
        .where(col("rank") <= 3)
        .withColumn("cos", Exact.fix(col("cos_raw"), 6))
        .select(col("q_id"), col("rank"), col("neighbor_id"), col("cos"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Embedding outlier detection for curation: a vector whose cosine to
    // its OWN trained cell centroid falls below the threshold sits far
    // from every dense region — mislabeled/garbage/adversarial points
    // that a curation pipeline quarantines before training. Rides on the
    // shared k-means (same trained cells as IVF/SemDeDup); cost = one
    // assignment pass + one 16-row broadcast join, no pair generation.
    "q_llm_outliers" -> { (s, dir) =>
      val se = scaledEmb(s, dir)
      val trained = kmeansCentroids(se) // one training run, two readers
      val cents = trained.selectExpr("cent_id AS cell", "cse",
        "sqrt(CAST(cn2 AS DOUBLE)) AS cnrm")
      val assigned = assignCells(se, trained, 1)
        .select(col("vec_id"), col("se"), col("nrm"), col("cent_id").as("cell"))
      assigned.join(broadcast(cents), Seq("cell"))
        .selectExpr("vec_id", "cell",
          s"${cosExpr("se", "cse", "nrm", "cnrm")} AS cos_raw")
        .select(col("vec_id"), col("cell"),
          Exact.fix(col("cos_raw"), 6).as("cos_centroid"),
          (col("cos_raw") < 0.05).as("is_outlier"))
        .orderBy(col("vec_id"))
    },

    // Topic labeling of embedding clusters (cross-modal): per trained
    // k-means cell, the 3 most frequent content words of the DOCUMENTS
    // whose vectors land in the cell — the human-readable audit every
    // clustering pipeline ships next to its cluster ids. Joins the two
    // modalities on doc_id = vec_id. Cost: the shared k-means training +
    // one token scan + one (cell, word) hash agg with a partial top-k
    // window — the document texts never shuffle (only exploded words),
    // and the per-cell output is constant-size.
    "q_llm_cluster_topics" -> { (s, dir) =>
      val se = scaledEmb(s, dir)
      val assigned = assignCells(se.select(col("vec_id"), col("se")),
          kmeansCentroids(se), 1)
        .select(col("vec_id"), col("cent_id").as("cell"))
      val words = Tables.load(s, dir, "documents")
        .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
        .where(expr("length(w) >= 4")) // drop function words cheaply
      val counts = words.join(assigned, col("doc_id") === col("vec_id"))
        .groupBy(col("cell"), col("w")).agg(count(lit(1)).as("n"))
      counts
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("cell")).orderBy(col("n").desc, col("w")))
          .cast("int"))
        .where(col("rank") <= 3)
        .select(col("cell"), col("rank"), col("w").as("term"), col("n"))
        .orderBy(col("cell"), col("rank"))
    },

    // Hard-negative mining for contrastive training: per query, the
    // top-3 most-similar vectors with a DIFFERENT label — the negatives
    // that actually move a contrastive loss (easy negatives are free but
    // useless; hard ones need exactly this "nearest wrong-class" search).
    // Same broadcast-queries shape as brute; the label inequality is one
    // more pushed predicate on the pair stream.
    "q_llm_hard_negatives" -> { (s, dir) =>
      val se = scaledEmbWithLabel(s, dir)
      val qs = se.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("se").as("qse"),
          col("nrm").as("qnrm"), col("label").as("qlabel"))
      val scored = se.crossJoin(broadcast(qs))
        .where(col("label") =!= col("qlabel"))
        .selectExpr("q_id", "qlabel", "vec_id AS neighbor_id", "label",
          s"${cosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw")
      scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id"))))
        .where(col("rank") <= 3)
        .withColumn("cos", Exact.fix(col("cos_raw"), 6))
        .select(col("q_id"), col("qlabel"), col("rank"),
          col("neighbor_id"), col("label"), col("cos"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Label-centroid audit over the embeddings' `label` column: mean
    // embedding per label (truncated integer means, the kmeansCentroids
    // idiom) and each vector's cosine to its OWN label centroid,
    // aggregated to per-label cohesion stats — the embedding-quality
    // audit (class compactness) run before training a classifier head.
    // One scan + one 3-row broadcast join; exact scaled-long sums.
    "q_llm_label_centroids" -> { (s, dir) =>
      val se = scaledEmbWithLabel(s, dir)
      val sums = (1 to EmbDim).map(i => sum(expr(s"element_at(se, $i)")).as(s"s$i"))
      val mean = (1 to EmbDim).map(i => s"s$i DIV n").mkString("array(", ", ", ")")
      val cents = se.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .selectExpr("label", "n", s"$mean AS cse")
        .selectExpr("label", "n", "cse",
          "sqrt(CAST(graft_dot(cse, cse) AS DOUBLE)) AS cnrm")
      se.join(broadcast(cents), Seq("label"))
        .selectExpr("label", "n",
          s"${cosExpr("se", "cse", "nrm", "cnrm")} AS cos_raw")
        .groupBy(col("label"), col("n").as("n_vecs"))
        .agg(Exact.avgFix(col("cos_raw"), 6).as("mean_cos"),
          Exact.fix(min(col("cos_raw")), 6).as("min_cos"))
        .orderBy(col("label"))
    },

    // Product-quantization ANN (the third index family, after IVF and
    // LSH): each vector is compressed to PqM codebook codes (PqM × 3 bits
    // here; PqM bytes in production), and queries rank neighbors by the
    // asymmetric-distance (ADC) sum of per-subspace lookup-table entries.
    // The ranking drops each query's constant Σ|q_m|² term, so the ADC
    // score is PURE LONG ARITHMETIC end to end — training (integer
    // k-means per subspace), encoding, and scoring all hash-match the
    // oracle with no floats anywhere. The 100 TB shape is the whole
    // point of PQ: the served index is the slim (vec_id, m, code) table
    // (PqM longs per vector instead of EmbDim), the per-query LUT is a
    // queries × PqM × PqKs broadcast, and scoring is one map-side join +
    // one (q_id, vec_id) hash agg — the corpus embeddings are never
    // shuffled or even read at query time.
    "q_llm_knn_pq" -> { (s, dir) =>
      val se = scaledEmb(s, dir)
      // (vec_id, m, sub): one row per vector per subspace, reused by
      // init, the Lloyd round, and the final encode
      val subs = se.selectExpr("vec_id",
          s"explode(transform(sequence(0, ${PqM - 1}), m -> named_struct(" +
            s"'m', m, 'sub', slice(se, m * $SubDim + 1, $SubDim)))) AS z")
        .selectExpr("vec_id", "z.m AS m", "z.sub AS sub")
        .localCheckpoint()
      val cb = pqCodebooks(subs)
      val codes = pqEncode(subs, cb).localCheckpoint()
      val lut = subs.where(col("vec_id") < 10)
        .join(broadcast(cb), Seq("m"))
        .selectExpr("vec_id AS q_id", "m", "code",
          "cn2 - 2L * graft_dot(sub, cse) AS d")
      val scored = codes.join(broadcast(lut), Seq("m", "code"))
        .where(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
        .agg(sum(col("d")).as("adc"))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("adc"), col("neighbor_id"))))
        .where(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("neighbor_id"), col("adc"))
        .orderBy(col("q_id"), col("rank"))
    },

    // LSH-bucketed ANN: candidates restricted to the query's sign-bit
    // bucket (planes 0..3), exact cosine re-rank, top-3.
    "q_llm_knn_lsh" -> { (s, dir) =>
      val bucketed = scaledEmb(s, dir)
        .selectExpr(Seq("vec_id", "se", "nrm") ++
          (0 until 4).map(p => s"IF(${sparkPlaneDot("se", p)} > 0L, 1, 0) AS bit$p"): _*)
        .selectExpr("vec_id", "se", "nrm", "concat_ws('', bit0, bit1, bit2, bit3) AS bucket")
      val qs = bucketed.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("se").as("qse"), col("nrm").as("qnrm"), col("bucket"))
      val scored = bucketed.join(broadcast(qs), Seq("bucket"))
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id",
          s"${cosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw")
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_raw").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .withColumn("cos", Exact.fix(col("cos_raw"), 6))
        .select(col("q_id"), col("rank"), col("neighbor_id"), col("cos"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Diversity coreset selection (greedy k-center / farthest-point): the
    // curation counterpart of dedup — instead of REMOVING near-identical
    // docs, SELECT a maximally-spread subset (seed sets for active
    // learning, eval-set construction, diverse fine-tuning subsets). See
    // [[kcenterCenters]] for the fold shape and the 100 TB posture.
    "q_llm_kcenter_sample" -> { (s, dir) =>
      val se = scaledEmb(s, dir).select(col("vec_id"), col("se"))
      kcenterCenters(se).orderBy(col("round"))
    },

    // MMR diversity re-ranking over the ANN arm's candidates — see
    // [[mmrSelect]] for the greedy fold and the 100 TB posture.
    "q_llm_mmr_rerank" -> { (s, dir) => mmrSelect(s, dir) },

    // Int8 embedding-quantization audit: symmetric per-vector max-abs
    // quantization (the serving-memory layout of every production vector
    // store: 4× smaller + SIMD int8 dot products) evaluated EXACTLY —
    // q_i = sign(x)·((|x|·254 + m) DIV 2m) = round(127·|x|/m) in pure
    // integer arithmetic over the scaled-long embedding, reconstruction
    // error |127·x − q_i·m| summed per vector, reported as exact ppm of
    // the vector's L1 mass plus the dead-zone rate (nonzero components
    // that quantize to 0 — the signal lost to coarse scales). One scan +
    // one hash aggregation per label; no joins, no floats anywhere, so
    // the audit is bit-reproducible at any partition count.
    "q_llm_embed_quantize" -> { (s, dir) =>
      Tables.load(s, dir, "embeddings")
        .selectExpr("vec_id", "label", s"${sparkScaledEmb("embedding")} AS se")
        .selectExpr("vec_id", "label",
          "array_max(transform(se, x -> abs(x))) AS m", "se")
        .selectExpr("vec_id", "label",
          "CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE aggregate(transform(se, " +
            "x -> abs(127 * x - (CASE WHEN x < 0 THEN -1L ELSE 1L END) * " +
            "((abs(x) * 254 + m) DIV (2 * m)) * m)), 0L, (a, b) -> a + b) " +
            "END AS err_sum",
          "aggregate(transform(se, x -> abs(127 * x)), 0L, (a, b) -> a + b) " +
            "AS mag_sum",
          "CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE CAST(size(filter(se, " +
            "x -> x <> 0 AND (abs(x) * 254 + m) DIV (2 * m) = 0)) AS BIGINT) " +
            "END AS n_dead")
        .selectExpr("label",
          "CASE WHEN mag_sum = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE err_sum * 1000000 DIV mag_sum END AS err_ppm", "n_dead")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          expr("sum(err_ppm) DIV count(*)").as("avg_err_ppm"),
          max(col("err_ppm")).as("max_err_ppm"),
          expr(s"sum(n_dead) * 1000000 DIV (count(*) * $EmbDim)").as("dead_ppm"))
        .orderBy(col("label"))
    },

    // Johnson–Lindenstrauss projection-distortion audit: how faithfully
    // do the 32 hyperplane projections (the same deterministic planes the
    // LSH family banks on) preserve pairwise squared distances? Per
    // banded candidate pair: exact ||a−b||² in the original 64-dim
    // scaled-long space vs Σ(p_j(a) − p_j(b))² in projection space (dots
    // pre-scaled by 2²¹ so the 32-term square-sum stays in long range —
    // truncating division, identical in both engines). JL says the ratio
    // concentrates around a common scale; the reported min/max/avg ratio
    // and spread ppm quantify the worst-case distortion — the audit run
    // before trusting projected distances for candidate FILTERING rather
    // than just bucketing. Candidates only from bands, never all pairs;
    // distances attach to slim id pairs after the distinct.
    "q_llm_jl_distortion" -> { (s, dir) =>
      val se = Tables.load(s, dir, "embeddings")
        .selectExpr("vec_id", s"${sparkScaledEmb("embedding")} AS se")
        .selectExpr("vec_id", "se",
          "transform(graft_planedots(se), x -> x DIV 2097152) AS dl")
        .localCheckpoint()
      val bandKey = (bd: Int) => (0 until 8)
        .map(r => s"IF(element_at(dl, ${bd * 8 + r + 1}) > 0L, ${1L << r}L, 0L)")
        .mkString(" + ")
      val bandStructs = (0 until 4)
        .map(bd => s"named_struct('band_idx', $bd, 'band_key', ${bandKey(bd)})")
        .mkString(", ")
      val bands = se
        .selectExpr("vec_id", s"explode(array($bandStructs)) AS band")
        .selectExpr("vec_id", "band.band_idx AS band_idx", "band.band_key AS band_key")
      // stop-bucket cap before the self-join (Dedup.capSimBands,
      // vec-keyed): the JL audit only needs a representative banded pair
      // SAMPLE, and a >√N bucket is a dense cluster whose quadratic pair
      // set adds no distortion information (the r12 sf1 gate measured
      // the uncapped form at 14.9e9 candidates on a clustered corpus).
      val kept = Dedup.capSimBands(bands, Dedup.corpusCountOf(se), key = "vec_id")
      val pairIds = kept.alias("a").join(kept.alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      pairIds
        .join(se.select(col("vec_id").as("vec_a"), col("se").as("sa"),
          col("dl").as("da")), "vec_a")
        .join(se.select(col("vec_id").as("vec_b"), col("se").as("sb"),
          col("dl").as("db")), "vec_b")
        .selectExpr(
          "aggregate(zip_with(sa, sb, (x, y) -> (x - y) * (x - y)), 0L, " +
            "(acc, v) -> acc + v) AS d2",
          "aggregate(zip_with(da, db, (x, y) -> (x - y) * (x - y)), 0L, " +
            "(acc, v) -> acc + v) AS d2p")
        .where(col("d2") > 0)
        .selectExpr("d2p DIV d2 AS r")
        .agg(count(lit(1)).as("n_pairs"), min(col("r")).as("r_min"),
          max(col("r")).as("r_max"), expr("sum(r) DIV count(*)").as("r_avg"))
        .selectExpr("n_pairs", "r_min", "r_max", "r_avg",
          "CASE WHEN r_avg > 0 THEN (r_max - r_min) * 1000000 DIV r_avg " +
            "ELSE CAST(0 AS BIGINT) END AS spread_ppm")
    },

    // Online ANN serving: the IVF index (trained centroids + assigned
    // corpus) is built ONCE as static state; QUERIES arrive as a stream
    // (two query files, one per trigger → two real micro-batches)
    // and each batch is served in its tick body against the static
    // index — the offline-train / online-serve split of a production
    // vector store. Per-query results touch only that query's probed
    // cells, so batch boundaries cannot change any query's top-k, and
    // each batch's output goes to a batchId-keyed path (overwrite =
    // replay-idempotent). Oracle = the SAME one-shot IVF SQL as
    // q_llm_knn_ivf: streamed serving provably equals batch.
    "stream_llm_ann_serve" -> { (s, dir) =>
      val se = scaledEmb(s, dir)
      val cents = kmeansCentroids(se).localCheckpoint()
      val assigned = assignCells(se, cents, 1)
        .select(col("vec_id"), col("se"), col("nrm"), col("cent_id").as("cell"))
        .localCheckpoint()
      val base = graft.sinks.Sinks.scratch("stream_ann_serve")
      val qsrc = Tables.load(s, dir, "embeddings").where(col("vec_id") < 10)
      Streams.land(base, (0 to 1).map(t => qsrc.where(col("vec_id") % 2 === t)))
      Streams.drain(Streams.ticks(s, s"$base/src", Tables.embeddings), s"$base/ckpt") { (batch, bid) =>
        val qse = batch
          .selectExpr("vec_id", s"${sparkScaledEmb("embedding")} AS se")
          .selectExpr("vec_id", "se",
            "sqrt(CAST(graft_dot(se, se) AS DOUBLE)) AS nrm")
        val probes = assignCells(qse, cents, 2)
          .select(col("vec_id").as("q_id"), col("se").as("qse"),
            col("nrm").as("qnrm"), col("cent_id").as("cell"))
        val scored = assigned.join(probes, Seq("cell"))
          .where(col("vec_id") =!= col("q_id"))
          .selectExpr("q_id", "vec_id AS neighbor_id",
            s"${cosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw")
        val topk = scored.withColumn("rank", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("cos_raw").desc, col("neighbor_id"))))
          .where(col("rank") <= 3)
          .withColumn("cos", Exact.fix(col("cos_raw"), 6))
          .select(col("q_id"), col("rank"), col("neighbor_id"), col("cos"))
        topk.write.mode("overwrite").parquet(s"$base/out/batch_$bid")
      }
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .orderBy(col("q_id"), col("rank"))
    })

  /** Recall evaluation: how many of each query's exact top-5 neighbors each
    * ANN index (hyperplane LSH and k-means IVF) surfaces. The evaluation
    * harness every ANN deployment needs — both sides are deterministic, so
    * the oracle reproduces the exact same recall table for both indexes. */
  private val recallEntry: (SparkSession, String) => DataFrame = { (s, dir) =>
    // Each sub-pipeline is localCheckpoint'ed: the brute truth table is
    // referenced once per evaluated index, and each ANN output would
    // otherwise re-run its whole pipeline (IVF including k-means training)
    // on every reference. The checkpointed tables are tiny (top-k rows per
    // query), so materialization is ~free and the entry costs one run of
    // each pipeline instead of two.
    val brute = queries("q_llm_knn_brute")(s, dir)
      .select(col("q_id"), col("neighbor_id")).localCheckpoint()
    def evalIndex(name: String, ann: DataFrame): DataFrame = {
      val hits = ann.select(col("q_id"), col("neighbor_id"))
        .withColumn("_hit", lit(1)).localCheckpoint()
      brute.join(hits, Seq("q_id", "neighbor_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_true"), sum(coalesce(col("_hit"), lit(0))).as("n_found"))
        .selectExpr(s"'$name' AS index_name", "q_id", "n_true", "n_found",
          "CAST(n_found AS DOUBLE) / n_true AS recall")
    }
    evalIndex("ivf", queries("q_llm_knn_ivf")(s, dir))
      .unionByName(evalIndex("lsh", queries("q_llm_knn_lsh")(s, dir)))
      .unionByName(evalIndex("pq", queries("q_llm_knn_pq")(s, dir)))
      .orderBy(col("index_name"), col("q_id"))
  }

  // --- DuckDB k-means mirror --------------------------------------------
  // Centroid training is the same exact integer arithmetic as the Spark
  // side: HUGEINT sums divided by counts with `//` (truncates toward zero,
  // like Spark's DIV) and cast back to BIGINT, so every Lloyd round lands
  // on identical centroids. Shared by the IVF and SemDeDup oracles.
  private def duckCent(src: String): String = {
    val meanList = (1 to EmbDim)
      .map(i => s"CAST(sum(se[$i]) // count(*) AS BIGINT)")
      .mkString("[", ", ", "]")
    s"""SELECT cell AS cent_id, $meanList AS cse FROM $src GROUP BY cell"""
  }
  private def duckCentN(src: String): String =
    s"SELECT cent_id, cse, ${duckPairDot("cse", "cse")} AS cn2 FROM $src"
  // n nearest cells by |c|^2 - 2*a.c (|a|^2 constant per row).
  //
  // The corpus-wide nProbe=1 assignment is a streaming GROUP BY argmin —
  // min over the struct {dscore, cent_id}, whose lexicographic order IS
  // the (dscore, cent_id) tie-break — because the window form cannot
  // survive sf1: row_number over the N×cells pair stream (3.5e8 rows)
  // buffers the whole stream in the sort, and with the r12 oracle
  // additionally carrying both 64-long arrays per pair (~1 KB/row) the
  // DuckDB run OOM'd at the 28 GB memlimit / spilled 40+ GB. The hash
  // aggregate streams with partial states (one struct per vec_id) and
  // never sorts — the relational mirror of the Spark side's packed
  // argmin scan (assignCells scaladoc). Windows remain only for probe
  // sets (nProbe>1), which are O(queries×cells) — always tiny — and
  // those buffer slim (vec_id, cell) rows with arrays re-joined after.
  private def duckAssign(centsCte: String, where: String, nProbe: Int,
                         src: String = "e"): String =
    if (nProbe == 1)
      s"""SELECT e.vec_id, e.se, e.nrm, w.cell FROM (
      SELECT e.vec_id,
             (min({'d': c.cn2 - 2 * (${duckPairDot("e.se", "c.cse")}),
                   'c': c.cent_id})).c AS cell
      FROM $src e CROSS JOIN $centsCte c $where GROUP BY e.vec_id) w
      JOIN $src e ON w.vec_id = e.vec_id"""
    else
      s"""SELECT e.vec_id, e.se, e.nrm, w.cell FROM (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cent_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 c.cn2 - 2 * (${duckPairDot("e.se", "c.cse")}), c.cent_id) AS rn
        FROM $src e CROSS JOIN $centsCte c $where) WHERE rn <= $nProbe) w
      JOIN $src e ON w.vec_id = e.vec_id"""

  /** CTE chain ending in `assigned` = every vector with its trained cell.
    * `nc` mirrors [[trainStatsOf]] exactly (same cellsSql / sample-
    * modulus text, scalar subqueries instead of a broadcast); `ts` is
    * the training sample — the seeded init and both Lloyd rounds run
    * over it, mirroring the Spark side's sample-bounded training, and
    * only the final `assigned` pass touches the full corpus. `//` is
    * DuckDB's truncating integer division (= Spark `DIV`). */
  private[llm] def duckKmeansCtes(src: String = "embeddings",
                                  floor: Int = CellsFloor): String = s"""
      e0 AS (
        SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM $src),
      e AS (
        SELECT vec_id, se, sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      nc AS (
        SELECT n_cells,
               greatest(CAST(1 AS BIGINT), n_vec // (n_cells * $TrainPerCell)) AS t_mod
        FROM (SELECT n_vec, ${cellsSql("n_vec", floor)} AS n_cells
              FROM (SELECT count(*) AS n_vec FROM e) tnc0) tnc),
      ts AS (
        SELECT vec_id, se, nrm FROM e
        WHERE vec_id % $P * $TrainHash % $P % (SELECT t_mod FROM nc) = 0),
      a0 AS (
        SELECT vec_id, se,
               vec_id % $P * 2654435761 % $P % (SELECT n_cells FROM nc) AS cell
        FROM ts),
      c0 AS (${duckCent("a0")}),
      c0n AS (${duckCentN("c0")}),
      a1 AS (${duckAssign("c0n", "", 1, "ts")}),
      c1 AS (${duckCent("a1")}),
      c1n AS (${duckCentN("c1")}),
      a2 AS (${duckAssign("c1n", "", 1, "ts")}),
      c2 AS (${duckCent("a2")}),
      c2n AS (${duckCentN("c2")}),
      assigned AS (${duckAssign("c2n", "", 1)})"""

  /** DuckDB mirror of [[kcenterCenters]]: K unrolled select-then-relax
    * CTE rounds (the duckKmeansCtes Lloyd-unrolling pattern) — same seed,
    * same integer maximin, same vec_id tie-break. */
  private[llm] def duckKcenterSql(k: Int = KCenters): String = {
    val sb = new StringBuilder
    sb ++= s"""
      WITH e0 AS (SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (SELECT vec_id, se, ${duckPairDot("se", "se")} AS n2 FROM e0),
      c1 AS (SELECT vec_id AS c_id, se AS cse, n2 AS cn2 FROM e
             ORDER BY n2 DESC, vec_id LIMIT 1),
      m1 AS (SELECT e.vec_id, e.se, e.n2,
             e.n2 - 2 * (${duckPairDot("e.se", "c.cse")}) + c.cn2 AS mind
             FROM e, c1 c)"""
    for (r <- 2 to k) {
      sb ++= s""",
      c$r AS (SELECT vec_id AS c_id, se AS cse, n2 AS cn2, mind AS r2
              FROM m${r - 1} ORDER BY mind DESC, vec_id LIMIT 1)"""
      if (r < k) sb ++= s""",
      m$r AS (SELECT m.vec_id, m.se, m.n2,
              least(m.mind, m.n2 - 2 * (${duckPairDot("m.se", "c.cse")}) + c.cn2) AS mind
              FROM m${r - 1} m, c$r c)"""
    }
    sb ++= s"""
      SELECT CAST(1 AS INT) AS round, c_id AS vec_id,
             CAST(0 AS BIGINT) AS radius2 FROM c1"""
    for (r <- 2 to k)
      sb ++= s"""
      UNION ALL SELECT CAST($r AS INT), c_id, r2 FROM c$r"""
    sb ++= "\n      ORDER BY round"
    sb.toString
  }

  /** DuckDB mirror of [[mmrSelect]]: the same greedy fold unrolled as K
    * round CTEs (the [[duckKcenterSql]] pattern) — each round is one
    * per-query windowed argmax (w$r) plus one maxsim relaxation against
    * the single new winner (st$r). */
  private[llm] def duckMmrSql(k: Int = MmrK): String = {
    val sb = new StringBuilder
    sb ++= s"""
      WITH e0 AS (SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (SELECT vec_id, se,
            sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      q AS (SELECT vec_id AS q_id, se AS qse, nrm AS qnrm FROM e
            WHERE vec_id < $MmrQ),
      cand0 AS (
        SELECT q_id, e.vec_id AS id, e.se, e.nrm,
               ${Exact.sqlScaled(duckCosExpr("qse", "se", "qnrm", "nrm"), 6)} AS rel6
        FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      cand AS (
        SELECT q_id, id, se, nrm, rel6 FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY rel6 DESC, id) AS rk FROM cand0)
        WHERE rk <= $MmrArm),
      sim AS (
        SELECT a.q_id AS sq, a.id AS ia, b.id AS ib,
               ${Exact.sqlScaled(duckCosExpr("a.se", "b.se", "a.nrm", "b.nrm"), 6)} AS sim6
        FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.id <> b.id),
      w1 AS (
        SELECT q_id, id AS wid, rel6 AS score6 FROM (
          SELECT q_id, id, rel6, row_number() OVER (PARTITION BY q_id
            ORDER BY rel6 DESC, id) AS rn FROM cand) WHERE rn = 1),
      st1 AS (
        SELECT c.q_id, c.id, c.rel6, s.sim6 AS maxsim6
        FROM cand c
        JOIN w1 w ON c.q_id = w.q_id AND c.id <> w.wid
        JOIN sim s ON s.sq = c.q_id AND s.ia = c.id AND s.ib = w.wid)"""
    for (r <- 2 to k) {
      sb ++= s""",
      w$r AS (
        SELECT q_id, id AS wid, score6 FROM (
          SELECT q_id, id, (rel6 - maxsim6) // 2 AS score6,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY (rel6 - maxsim6) // 2 DESC, id) AS rn
          FROM st${r - 1}) WHERE rn = 1)"""
      if (r < k) sb ++= s""",
      st$r AS (
        SELECT c.q_id, c.id, c.rel6, greatest(c.maxsim6, s.sim6) AS maxsim6
        FROM st${r - 1} c
        JOIN w$r w ON c.q_id = w.q_id AND c.id <> w.wid
        JOIN sim s ON s.sq = c.q_id AND s.ia = c.id AND s.ib = w.wid)"""
    }
    sb ++= s"""
      SELECT q_id, CAST(1 AS INT) AS round, wid AS vec_id,
             score6 / 1000000.0 AS mmr FROM w1"""
    for (r <- 2 to k)
      sb ++= s"""
      UNION ALL SELECT q_id, CAST($r AS INT), wid, score6 / 1000000.0 FROM w$r"""
    sb ++= "\n      ORDER BY q_id, round"
    sb.toString
  }

  /** DuckDB mirror of the k-means IVF entry. */
  private[llm] def duckIvfSql(src: String = "embeddings"): String = {
    s"""
      WITH ${duckKmeansCtes(src)},
      probes0 AS (${duckAssign("c2n", "WHERE e.vec_id < 10", 2)}),
      probes AS (
        SELECT vec_id AS q_id, se AS qse, nrm AS qnrm, cell FROM probes0),
      scored AS (
        SELECT q_id, a.vec_id AS neighbor_id,
               ${duckCosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw
        FROM assigned a JOIN probes p ON a.cell = p.cell
        WHERE a.vec_id <> p.q_id),
      r AS (
        SELECT q_id, neighbor_id, cos_raw,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, rank, neighbor_id, ${Exact.sqlFix("cos_raw", 6)} AS cos
      FROM r WHERE rank <= 3 ORDER BY q_id, rank"""
  }

  // --- DuckDB PQ mirror -------------------------------------------------
  // Same exact integer arithmetic as pqCodebooks/pqEncode: salted seeded
  // init, truncated-integer-mean codebooks, |c|²−2·a·c argmin encode, and
  // a pure-BIGINT ADC sum (no floats anywhere in the PQ path).
  private def duckSubDot(a: String, b: String): String =
    (1 to SubDim).map(i => s"$a[$i] * $b[$i]").mkString(" + ")

  private def duckPqCtes(src: String = "embeddings"): String = {
    val subUnion = (0 until PqM).map(m =>
      s"SELECT vec_id, $m AS m, se[${m * SubDim + 1}:${(m + 1) * SubDim}] AS sub FROM e")
      .mkString("\n        UNION ALL ")
    val meanList = (1 to SubDim)
      .map(i => s"CAST(sum(sub[$i]) // count(*) AS BIGINT)")
      .mkString("[", ", ", "]")
    def cbOf(src: String, cellCol: String) =
      s"SELECT m, $cellCol AS code, $meanList AS cse FROM $src GROUP BY m, $cellCol"
    def cbN(src: String) =
      s"SELECT m, code, cse, ${duckSubDot("cse", "cse")} AS cn2 FROM $src"
    def enc(cbn: String) = s"""SELECT vec_id, m, sub, code FROM (
        SELECT s.vec_id, s.m, s.sub, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 c.cn2 - 2 * (${duckSubDot("s.sub", "c.cse")}), c.code) AS rn
        FROM subs s JOIN $cbn c ON s.m = c.m) WHERE rn = 1"""
    s"""
      e0 AS (SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM $src),
      e AS (SELECT vec_id, se FROM e0),
      subs AS (
        $subUnion),
      pa0 AS (
        SELECT vec_id, m, sub,
               (vec_id + m * 40503) % $P * 2654435761 % $P % $PqKs AS cell
        FROM subs),
      pc0 AS (${cbOf("pa0", "cell")}),
      pc0n AS (${cbN("pc0")}),
      pa1 AS (${enc("pc0n")}),
      pc1 AS (${cbOf("pa1", "code")}),
      pc1n AS (${cbN("pc1")}),
      encf AS (${enc("pc1n")}),
      lut AS (
        SELECT s.vec_id AS q_id, s.m, c.code,
               c.cn2 - 2 * (${duckSubDot("s.sub", "c.cse")}) AS d
        FROM subs s JOIN pc1n c ON s.m = c.m WHERE s.vec_id < 10),
      pqscored AS (
        SELECT l.q_id, en.vec_id AS neighbor_id, CAST(sum(l.d) AS BIGINT) AS adc
        FROM encf en JOIN lut l ON en.m = l.m AND en.code = l.code
        WHERE en.vec_id <> l.q_id GROUP BY 1, 2),
      pqr AS (
        SELECT q_id, neighbor_id, adc,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adc, neighbor_id) AS INT) AS rank
        FROM pqscored)"""
  }

  private[llm] def duckPqSql(src: String = "embeddings"): String = s"""
      WITH ${duckPqCtes(src)}
      SELECT q_id, rank, neighbor_id, adc
      FROM pqr WHERE rank <= 3 ORDER BY q_id, rank"""

  /** DuckDB mirror of the hyperplane-LSH entry, source-parameterized so the
    * incremental/forget variants can run it over a kept CTE. */
  private[llm] def duckLshSql(src: String = "embeddings"): String = {
    val duckBits = (0 until 4)
      .map(p => s"CASE WHEN ${duckPlaneDot("se", p)} > 0 THEN 1 ELSE 0 END AS bit$p")
      .mkString(",\n               ")
    s"""
      WITH e0 AS (
        SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM $src),
      e AS (
        SELECT vec_id, se, sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      bits AS (
        SELECT vec_id, se, nrm,
               $duckBits
        FROM e),
      bucketed AS (
        SELECT vec_id, se, nrm, concat_ws('', bit0, bit1, bit2, bit3) AS bucket FROM bits),
      q AS (SELECT vec_id AS q_id, se AS qse, nrm AS qnrm, bucket FROM bucketed WHERE vec_id < 10),
      scored AS (
        SELECT q.q_id, c.vec_id AS neighbor_id,
               ${duckCosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw
        FROM bucketed c JOIN q ON c.bucket = q.bucket
        WHERE c.vec_id <> q.q_id),
      r AS (
        SELECT q_id, neighbor_id, cos_raw,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, rank, neighbor_id, ${Exact.sqlFix("cos_raw", 6)} AS cos
      FROM r WHERE rank <= 3 ORDER BY q_id, rank"""
  }

  def oracleSql: Map[String, String] = {
    val base = Map(
      "q_llm_knn_brute" -> s"""
      WITH e0 AS (
        SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (
        SELECT vec_id, se, sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      q AS (SELECT vec_id AS q_id, se AS qse, nrm AS qnrm FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q_id, e.vec_id AS neighbor_id,
               ${duckCosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw
        FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      r AS (
        SELECT q_id, neighbor_id, cos_raw,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, rank, neighbor_id, ${Exact.sqlFix("cos_raw", 6)} AS cos
      FROM r WHERE rank <= 5 ORDER BY q_id, rank""",

      "q_llm_matryoshka_audit" -> {
        def preDot(a: String, b: String): String =
          (1 to 32).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
        s"""
      WITH e0 AS (
        SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (
        SELECT vec_id, se,
               sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm,
               sqrt(CAST(${preDot("se", "se")} AS DOUBLE)) AS pnrm
        FROM e0),
      q AS (SELECT vec_id AS q_id, se AS qse, nrm AS qnrm, pnrm AS qpnrm
            FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q_id, e.vec_id AS neighbor_id,
               CAST(${duckPairDot("qse", "se")} AS DOUBLE) / (qnrm * nrm)
                 AS cos_full,
               CAST(${preDot("qse", "se")} AS DOUBLE) / (qpnrm * pnrm)
                 AS cos_pre
        FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      r AS (
        SELECT q_id, neighbor_id, cos_full,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_full DESC, neighbor_id) AS rf,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_pre DESC, neighbor_id) AS rp
        FROM scored),
      c AS (
        SELECT q_id, rf, rp,
               CAST(floor(cos_full * 1000000 + 0.5) AS BIGINT) AS c6
        FROM r WHERE rf <= 5 OR rp <= 5)
      SELECT q_id,
             count(*) FILTER (WHERE rf <= 5 AND rp <= 5) AS n_overlap,
             CAST(coalesce(sum(c6) FILTER (WHERE rp <= 5), 0)
                - coalesce(sum(c6) FILTER (WHERE rf <= 5), 0) AS BIGINT)
               AS regret_micros
      FROM c GROUP BY q_id ORDER BY q_id"""
      },

      "q_llm_knn_ivf" -> duckIvfSql(),

      // streamed serving must equal the one-shot batch IVF exactly — the
      // oracle IS q_llm_knn_ivf's SQL
      "stream_llm_ann_serve" -> duckIvfSql(),

      "q_llm_kcenter_sample" -> duckKcenterSql(),

      "q_llm_mmr_rerank" -> duckMmrSql(),

      // mirror of q_llm_jl_distortion: same scaled-down plane dots (the
      // // 2^21 truncation agrees with Spark DIV on negatives), same
      // dl-derived bands, exact integer square-sums
      "q_llm_jl_distortion" -> {
        val dlist = (0 until NPlanes)
          .map(p => s"(${duckPlaneDot("se", p)}) // 2097152")
          .mkString("[", ",\n               ", "]")
        val bandUnion = (0 until 4).map { bd =>
          val key = (0 until 8)
            .map(r => s"CASE WHEN dl[${bd * 8 + r + 1}] > 0 THEN ${1L << r} ELSE 0 END")
            .mkString(" + ")
          s"SELECT vec_id, $bd AS band_idx, $key AS band_key FROM d"
        }.mkString("\n        UNION ALL ")
        s"""
      WITH e0 AS (
        SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      d AS (SELECT vec_id, se, $dlist AS dl FROM e0),
      bands AS (
        $bandUnion),${graft.llm.Dedup.duckCapBandCtes("embeddings", "bands", "vec_id")},
      pids AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bkept a JOIN bkept b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id),
      pp AS (
        SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, ${EmbDim + 1}),
                   i -> (x.se[i] - y.se[i]) * (x.se[i] - y.se[i]))),
                 (a, b) -> a + b) AS d2,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, ${NPlanes + 1}),
                   j -> (x.dl[j] - y.dl[j]) * (x.dl[j] - y.dl[j]))),
                 (a, b) -> a + b) AS d2p
        FROM pids
        JOIN d x ON x.vec_id = vec_a
        JOIN d y ON y.vec_id = vec_b),
      rr AS (SELECT d2p // d2 AS r FROM pp WHERE d2 > 0)
      SELECT count(*) AS n_pairs, min(r) AS r_min, max(r) AS r_max,
             CAST(sum(r) AS BIGINT) // count(*) AS r_avg,
             CASE WHEN CAST(sum(r) AS BIGINT) // count(*) > 0
                  THEN (max(r) - min(r)) * 1000000
                       // (CAST(sum(r) AS BIGINT) // count(*))
                  ELSE CAST(0 AS BIGINT) END AS spread_ppm
      FROM rr"""
      },

      // mirror of q_llm_embed_quantize: identical integer quantizer and
      // error accounting over the same scaled-long embedding; list_reduce
      // over a 0-prepended list keeps the sums BIGINT (duckPlaneDot idiom)
      "q_llm_embed_quantize" -> s"""
      WITH e0 AS (
        SELECT vec_id, label, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e1 AS (
        SELECT vec_id, label, se,
               list_max(list_transform(se, x -> abs(x))) AS m
        FROM e0),
      per AS (
        SELECT vec_id, label,
               CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
                 ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(se, x -> abs(127 * x -
                     (CASE WHEN x < 0 THEN -1 ELSE 1 END) *
                     ((abs(x) * 254 + m) // (2 * m)) * m))),
                   (a, b) -> a + b) END AS err_sum,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(se, x -> abs(127 * x))), (a, b) -> a + b)
                 AS mag_sum,
               CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(len(list_filter(se, x -> x <> 0
                   AND (abs(x) * 254 + m) // (2 * m) = 0)) AS BIGINT)
                 END AS n_dead
        FROM e1),
      ppm AS (
        SELECT label,
               CASE WHEN mag_sum = 0 THEN CAST(0 AS BIGINT)
                 ELSE err_sum * 1000000 // mag_sum END AS err_ppm, n_dead
        FROM per)
      SELECT label, count(*) AS n_vecs,
             CAST(sum(err_ppm) AS BIGINT) // count(*) AS avg_err_ppm,
             max(err_ppm) AS max_err_ppm,
             CAST(sum(n_dead) AS BIGINT) * 1000000 // (count(*) * $EmbDim)
               AS dead_ppm
      FROM ppm GROUP BY label ORDER BY label""",

      "q_llm_knn_pq" -> duckPqSql(),

      "q_llm_knn_filtered" -> s"""
      WITH e0 AS (
        SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (
        SELECT vec_id, se, sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      keep AS (
        SELECT doc_id AS vec_id FROM documents
        WHERE lang = 'en' AND n_chars >= 200),
      cand AS (SELECT e.* FROM e JOIN keep USING (vec_id)),
      q AS (SELECT vec_id AS q_id, se AS qse, nrm AS qnrm FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q_id, cand.vec_id AS neighbor_id,
               ${duckCosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw
        FROM cand CROSS JOIN q WHERE cand.vec_id <> q.q_id),
      r AS (
        SELECT q_id, neighbor_id, cos_raw,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, rank, neighbor_id, ${Exact.sqlFix("cos_raw", 6)} AS cos
      FROM r WHERE rank <= 3 ORDER BY q_id, rank""",

      "q_llm_cluster_topics" -> s"""
      WITH ${duckKmeansCtes()},
      cellmap AS (SELECT vec_id, cell FROM assigned),
      w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wf AS (SELECT doc_id, w FROM w WHERE length(w) >= 4),
      counts AS (
        SELECT cell, w, count(*) AS n
        FROM wf JOIN cellmap ON wf.doc_id = cellmap.vec_id
        GROUP BY cell, w),
      r AS (
        SELECT cell, w, n,
               CAST(row_number() OVER (PARTITION BY cell
                 ORDER BY n DESC, w) AS INT) AS rank
        FROM counts)
      SELECT cell, rank, w AS term, n FROM r
      WHERE rank <= 3 ORDER BY cell, rank""",

      "q_llm_outliers" -> s"""
      WITH ${duckKmeansCtes()},
      cnn AS (
        SELECT cent_id AS cell, cse, sqrt(CAST(cn2 AS DOUBLE)) AS cnrm FROM c2n),
      j AS (
        SELECT a.vec_id, a.cell,
               CAST(${duckPairDot("a.se", "cnn.cse")} AS DOUBLE) / (a.nrm * cnn.cnrm) AS cos_raw
        FROM assigned a JOIN cnn ON a.cell = cnn.cell)
      SELECT vec_id, cell, ${Exact.sqlFix("cos_raw", 6)} AS cos_centroid,
             cos_raw < 0.05 AS is_outlier
      FROM j ORDER BY vec_id""",

      "q_llm_hard_negatives" -> s"""
      WITH e0 AS (
        SELECT vec_id, label, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (
        SELECT vec_id, label, se,
               sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      q AS (
        SELECT vec_id AS q_id, se AS qse, nrm AS qnrm, label AS qlabel
        FROM e WHERE vec_id < 10),
      scored AS (
        SELECT q_id, qlabel, e.vec_id AS neighbor_id, e.label AS label,
               ${duckCosExpr("qse", "se", "qnrm", "nrm")} AS cos_raw
        FROM e CROSS JOIN q WHERE e.label <> q.qlabel),
      r AS (
        SELECT q_id, qlabel, neighbor_id, label, cos_raw,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, qlabel, rank, neighbor_id, label, ${Exact.sqlFix("cos_raw", 6)} AS cos
      FROM r WHERE rank <= 3 ORDER BY q_id, rank""",

      "q_llm_label_centroids" -> {
        val meanList = (1 to EmbDim)
          .map(i => s"CAST(sum(se[$i]) // count(*) AS BIGINT)")
          .mkString("[", ", ", "]")
        s"""
      WITH e0 AS (
        SELECT vec_id, label, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (
        SELECT vec_id, label, se,
               sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      cents AS (
        SELECT label, count(*) AS n, $meanList AS cse FROM e GROUP BY label),
      cn AS (
        SELECT label, n, cse,
               sqrt(CAST(${duckPairDot("cse", "cse")} AS DOUBLE)) AS cnrm
        FROM cents),
      j AS (
        SELECT e.label AS label, cn.n AS n,
               CAST(${duckPairDot("e.se", "cn.cse")} AS DOUBLE) / (e.nrm * cn.cnrm) AS cos_raw
        FROM e JOIN cn ON e.label = cn.label)
      SELECT label, n AS n_vecs,
             ${Exact.sqlAvgFix("cos_raw", 6)} AS mean_cos,
             ${Exact.sqlFix("min(cos_raw)", 6)} AS min_cos
      FROM j GROUP BY label, n ORDER BY label"""
      },

      "q_llm_dedup_semantic" -> s"""
      WITH ${duckKmeansCtes()},
      pairs AS (
        SELECT b.vec_id AS vec_id,
               CAST(${duckPairDot("a.se", "b.se")} AS DOUBLE) / (a.nrm * b.nrm) AS cos_raw
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id),
      drops AS (SELECT DISTINCT vec_id FROM pairs WHERE cos_raw >= $SemThreshold)
      SELECT s.vec_id, s.cell,
             CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
      FROM assigned s LEFT JOIN drops d ON s.vec_id = d.vec_id
      ORDER BY s.vec_id""",

      "q_llm_knn_lsh" -> duckLshSql())

    def recallFor(name: String, annSql: String): String = s"""
      SELECT '$name' AS index_name, b.q_id, count(*) AS n_true,
             CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
             CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
      FROM (${base("q_llm_knn_brute")}) b
      LEFT JOIN ($annSql) l
        ON b.q_id = l.q_id AND b.neighbor_id = l.neighbor_id
      GROUP BY b.q_id"""
    base + ("q_llm_knn_recall" ->
      s"""${recallFor("ivf", base("q_llm_knn_ivf"))}
      UNION ALL
      ${recallFor("lsh", base("q_llm_knn_lsh"))}
      UNION ALL
      ${recallFor("pq", base("q_llm_knn_pq"))}
      ORDER BY index_name, q_id""")
  }
}
