package graft.llm

/** Cross-engine deterministic hashing for the LLM-pipeline operators.
  *
  * The driver's correctness gate hash-compares Spark output against DuckDB
  * running the oracle SQL, so every hash used by dedup/similarity must be
  * computable bit-identically in BOTH engines. Neither Spark's `xxhash64`
  * nor DuckDB's `hash` match each other, so we define our own primitive: a
  * polynomial character hash evaluated with each engine's higher-order
  * list functions over identical integer arithmetic —
  *
  *   h = fold(chars, 0, (acc, c) => (acc * 31 + codepoint(c)) % P)
  *
  * All downstream hashes (word, shingle, MinHash, SimHash, hyperplane LSH)
  * are integer arithmetic on these values, so they agree by construction.
  * Every helper here returns a pair of SQL fragments: `spark` (Spark SQL,
  * used via `expr`) and `duck` (DuckDB SQL for the oracle).
  *
  * Scale note: Spark evaluates higher-order functions (`aggregate`,
  * `transform`) without whole-stage codegen, so every hot primitive has
  * been promoted to a native codegen kernel — `graft_charhash`,
  * `graft_wordhashes`, `graft_shingles` (Generator), `graft_simhash`,
  * `graft_dot` (see [[graft.functions]]). The HOF forms remain here both
  * as the DuckDB-oracle mirrors and as independent parity models for the
  * kernel specs/properties.
  *
  * Reference anchor: generalizes the keyed idempotence of
  * `git_etl.ts:127-132` from exact keys to fuzzy (similarity) keys.
  */
object XHash {
  /** Modulus: largest prime < 2^30 squared fits comfortably in a signed
    * 64-bit product (P*131 + P < 2^38, A*s < P^2 ~ 1e18 < 2^63). */
  val P = 1000000007L

  // MinHash: K independent affine permutations h_i(s) = (A_i*s + B_i) % P,
  // banded for LSH as Bands bands of RowsPerBand rows each.
  val K = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Stop-shingle document-frequency cap for the inverted-index
    * verification joins (PPJoin-style prefix filtering, coarse-grained):
    * shingles appearing in more than the cap's document count are
    * boilerplate and are dropped BEFORE the pair-generating equi-join.
    * Without the cap one shingle shared by 1M docs creates a quadratic hot
    * key — the #1 skew risk at corpus scale. Jaccard is then defined over
    * the capped shingle universe in BOTH engines, so results stay
    * hash-identical.
    *
    * The cap is CORPUS-RELATIVE: `greatest(MaxDf, N DIV MaxDfRatio)` where
    * N is the corpus row count, computed inside the plan (a 1-row count
    * aggregate broadcast into the df filter — no driver action) and
    * embedded as the identical scalar subquery in the oracle SQL. A purely
    * absolute cap has a recall cliff: at billion-doc scale virtually every
    * legitimate shingle exceeds 100 docs, the capped universe collapses,
    * and near-dup recall with it. The relative term grows the cap with the
    * corpus (one doc per [[MaxDfRatio]]), while the floor keeps small-
    * corpus behavior identical — at the test SFs N/ratio < 100, so results
    * are unchanged and LlmSpec's boilerplate fixture still drives df past
    * the floor on purpose; the relative arm is spec-fired with a small
    * ratio override. */
  val MaxDf = 100L
  /** Relative arm of the df cap: cap grows by one doc per MaxDfRatio
    * corpus docs (0.01% boilerplate tolerance — conservative: a shingle in
    * more than 1 in 10k docs is template text at any scale). */
  val MaxDfRatio = 10000L
  val A: IndexedSeq[Long] = (0 until K).map(i => (i * 2654435761L + 1) % P)
  val B: IndexedSeq[Long] = (0 until K).map(i => (i * 40503L + 17) % P)

  /** Char-polynomial hash of string expression `e` — Spark SQL side. */
  def sparkCharHash(e: String): String =
    s"aggregate(split($e, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % $P)"

  /** Char-polynomial hash of string expression `e` — DuckDB side. */
  def duckCharHash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(acc, c) -> (acc * 31 + c) % $P)"

  /** Word hash: first 56 bits of md5, mod P. Both engines produce identical
    * md5 hex; each parses it natively — Spark via codegen'd `conv` (the char
    * hash's interpreted higher-order fold would dominate the hot path),
    * DuckDB via a hex-digit fold (oracle side, cost irrelevant). */
  def sparkWordHash(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 14), 16, 10) AS BIGINT) % $P"
  def duckWordHash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split(substring(md5($e), 1, 14), ''), " +
      s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), " +
      s"(a, d) -> a * 16 + d) % $P"

  /** Word-hash array of a space-tokenized text column. The Spark side is
    * the codegen kernel [[graft.functions.WordHashes]] (`graft_wordhashes`,
    * registered on every graft session); value-identical to the HOF form
    * kept below for cross-checks. */
  def sparkWordHashes(text: String): String =
    s"graft_wordhashes($text)"
  /** The pre-kernel higher-order-function form — same values; kept as the
    * independent model for parity specs/properties. */
  def sparkWordHashesHof(text: String): String =
    s"transform(split($text, ' '), w -> ${sparkWordHash("w")})"
  def duckWordHashes(text: String): String =
    s"list_transform(string_split($text, ' '), w -> ${duckWordHash("w")})"

  /** Word-3-gram shingle hashes from a word-hash array column `wh`
    * (callers must filter size(wh) >= 3 first — both engines). */
  def sparkShingles(wh: String): String =
    s"transform(sequence(1, size($wh) - 2), i -> " +
      s"((element_at($wh, i) * 131 + element_at($wh, i + 1)) % $P * 131 " +
      s"+ element_at($wh, i + 2)) % $P)"
  def duckShingles(wh: String): String =
    s"list_transform(range(1, len($wh) - 1), i -> " +
      s"(($wh[i] * 131 + $wh[i + 1]) % $P * 131 + $wh[i + 2]) % $P)"

  /** MinHash value k over a shingle-hash array column `sh`. */
  def sparkMinhash(sh: String, k: Int): String =
    s"array_min(transform($sh, s -> (${A(k)} * s + ${B(k)}) % $P))"
  def duckMinhash(sh: String, k: Int): String =
    s"list_min(list_transform($sh, s -> (${A(k)} * s + ${B(k)}) % $P))"

  // Hyperplane LSH for embeddings: NPlanes deterministic pseudo-random
  // integer planes over EmbDim dims, derived from a Weyl-style sequence so
  // both engines can embed them as literals. Values centered on 0.
  // Near-dup banding is 4 bands x 8 sign bits: 256 buckets per band keeps
  // the candidate set O(N·bucket_load), not quadratic (4-bit bands were
  // measured at 23% of ALL pairs at sf0.1 — effectively all-pairs).
  // bucket_load itself is NOT bounded by geometry alone: a clustered
  // corpus concentrates whole semantic clusters into single buckets
  // (r12 measured a 51k-vector bucket / 14.9e9 candidate pairs on a
  // generated 500k corpus with 10 dense clusters), so every band
  // consumer also applies the corpus-relative sqrt-law stop-bucket cap
  // (Dedup.capSimBands) before any pair join.
  // Geometry lives in GraftKernels (single source of truth — the
  // graft_planedots codegen kernel compiles the same formula inline).
  val EmbDim: Int = graft.functions.GraftKernels.EmbDim
  val NPlanes: Int = graft.functions.GraftKernels.NPlanes // 4 bands x 8 planes for near-dup; first 4 for ANN buckets
  def planeWeight(p: Int, d: Int): Long =
    graft.functions.GraftKernels.planeWeight(p, d)

  /** Embedding scaled to exact longs (floor(x*1e6+0.5)) — float→double is
    * exact, so both engines compute identical longs. Spark side is the
    * codegen kernel [[graft.functions.ScaledEmb]] (registered on every
    * graft session); the HOF form below is the parity model. */
  def sparkScaledEmb(e: String): String =
    s"graft_scaledemb($e)"
  def sparkScaledEmbHof(e: String): String =
    s"transform($e, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))"
  def duckScaledEmb(e: String): String =
    s"list_transform($e, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"

  /** Dot product of a scaled-long embedding column with literal plane p —
    * unrolled with literal weights so it stays plain codegen arithmetic. */
  def sparkPlaneDot(se: String, p: Int): String =
    (0 until EmbDim)
      .map(d => s"element_at($se, ${d + 1}) * ${planeWeight(p, d)}L")
      .mkString(" + ")
  def duckPlaneDot(se: String, p: Int): String =
    // flat unrolled sum, mirroring sparkPlaneDot term-for-term. The old
    // list_reduce-over-list_transform form built the 64-literal weight
    // LIST inside the lambda — DuckDB reconstructed it per element, per
    // plane, per row (measured: the 32-plane `bits`/`d` CTE alone took
    // 1864 s single-threaded at sf1 — the entire cause of the three
    // deferred sf1 oracle timeouts). Flat BIGINT addition is the same
    // left-assoc exact-integer sum (list_reduce folded from a prepended
    // 0), so every hash/band/verdict is bit-unchanged.
    (0 until EmbDim).map(d => s"$se[${d + 1}] * ${planeWeight(p, d)}").mkString(" + ")

  /** Exact dot product of two scaled-long embedding columns — DuckDB
    * (oracle) side. The Spark side uses the native codegen kernel
    * `graft_dot` ([[graft.functions.LongDot]]); integer addition is
    * associative, so both sides agree exactly regardless of fold shape. */
  def duckPairDot(a: String, b: String): String =
    (1 to EmbDim).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
}
