package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.Tables
import graft.util.Streams

/** One ingest stream, N index stores — the production shape of the
  * incremental tier (VERDICT r10 item 6).
  *
  * The standalone incremental entries each drain their OWN tick stream
  * ([[graft.util.Streams.drain]]) over the same document corpus: four
  * entries = four checkpointed streams = four times the per-tick
  * orchestration floor (trigger bookkeeping, offset commits, source
  * listing) and four reads of every arrival batch. A real crawl pipeline
  * doesn't do that: ONE ingest stream owns the arrival order, and a
  * single tick body folds each batch into
  * EVERY derived index store — here MinHash-LSH dedup, SimHash, winnow,
  * and BM25 — reusing the exact tick functions the standalone entries
  * run (zero duplicated store code; each store is ROW-identical to its
  * standalone twin because the ticks see the same 3 range batches in the
  * same order — file layout may differ where compaction choices differ,
  * which the compaction spec proves is results-neutral). The batch is
  * `persist()`ed across the four folds, so the source is read once per
  * tick instead of four times.
  *
  * Build is run-scoped-once per (session, sf dir) — the same pattern as
  * [[Dedup.verifiedPairsFullCached]]: the four serving entries share the
  * stores the one ingest maintained, which is exactly the measured
  * claim (Bench times the four `q_llm_multi_ingest_*` entries together
  * against the four standalone entries' combined cost; PERF.md records
  * the delta). Each entry serves through the SAME serve path as its
  * standalone twin, so each reuses that twin's one-shot oracle SQL —
  * four independent hash-compared proofs that the shared-ingest stores
  * equal the per-family ones.
  */
object MultiIndex {

  private val built = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (org.apache.spark.SparkContext, String)]()

  /** Store base for `dir`, building all four index stores on first use
    * in this session (eviction by owning-context liveness, same contract
    * as the pairs cache). */
  private[graft] def ensureBuilt(s: SparkSession, dir: String): String = {
    val ctx = s.sparkContext
    built.entrySet.removeIf(e => e.getValue._1.isStopped)
    built.computeIfAbsent((ctx.applicationId, dir), _ => {
      val base = Sinks.scratch("multi_ingest")
      // timed as a shared build: Bench re-attributes these seconds to a
      // `shared_build_multi_ingest` pseudo-entry so the four serving
      // entries' numbers mean serve cost, not build-landed-here
      graft.util.SharedBuilds.timed("multi_ingest")(build(s, dir, base))
      (ctx, base)
    })._2
  }

  private def build(s: SparkSession, dir: String, base: String): Unit = {
    val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    // same 3 range batches as every standalone incremental entry — the
    // stores end up identical, which is what lets each family reuse its
    // one-shot oracle unchanged
    d.repartitionByRange(3, col("doc_id")).write.parquet(s"$base/src")
    Streams.drain(Streams.ticks(s, s"$base/src", d.schema), s"$base/ckpt") { (b, id) =>
      val batch = b.persist()
      try {
        // the four folds are independent (disjoint store trees, the
        // shared batch is read-only materialized blocks), so run them
        // CONCURRENTLY (guide-style back-fill): each fold's driver-side
        // planning overlaps the others' executor work, and the tick
        // floor of the batch is max(folds), not sum(folds). Store
        // results are unchanged — per-family tick order is still the
        // stream's order, families never touch each other's trees
        // (Jobs.inPool's disjoint-outputs contract).
        graft.util.Jobs.inPool(4)(Seq(
          () => IncrementalDedup.tick(s, batch, id, s"$base/minhash"),
          () => IncrementalDedup.simhashTick(s, batch, id, s"$base/simhash",
            IncrementalDedup.TextFpExpr),
          () => IncrementalDedup.winnowTick(s, batch, id, s"$base/winnow"),
          () => IncrementalRetrieval.tick(s, batch, id, s"$base/bm25")))
      } finally batch.unpersist()
    }
    // the same between-window maintenance the standalone entries run —
    // four disjoint store trees, compacted concurrently (r15);
    // refreshStats stays AFTER the pool (it reads bm25/postings, and a
    // reader racing a bucket swap can see the bucket briefly absent)
    graft.util.Jobs.inPool(4)(Seq(
      () => Sinks.compactBuckets(s, s"$base/minhash/bands"),
      () => Sinks.compactBuckets(s, s"$base/simhash/fps"),
      () => Sinks.compactBuckets(s, s"$base/simhash/bands"),
      () => Sinks.compactBuckets(s, s"$base/bm25/postings")))
    IncrementalRetrieval.refreshStats(s, s"$base/bm25")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_multi_ingest_dedup" -> { (s, dir) =>
      IncrementalDedup.verifyAccumulated(s, s"${ensureBuilt(s, dir)}/minhash")
    },
    "q_llm_multi_ingest_simhash" -> { (s, dir) =>
      IncrementalDedup.simhashVerify(s, s"${ensureBuilt(s, dir)}/simhash")
    },
    "q_llm_multi_ingest_winnow" -> { (s, dir) =>
      IncrementalDedup.winnowServe(s, s"${ensureBuilt(s, dir)}/winnow")
    },
    "q_llm_multi_ingest_bm25" -> { (s, dir) =>
      IncrementalRetrieval.serve(s, s"${ensureBuilt(s, dir)}/bm25")
    })

  /** Each family's shared-ingest store serves through the same path as
    * its standalone twin, so the twin's one-shot oracle applies verbatim. */
  def oracleSql: Map[String, String] = Map(
    "q_llm_multi_ingest_dedup" ->
      IncrementalDedup.oracleSql("q_llm_dedup_incremental"),
    "q_llm_multi_ingest_simhash" ->
      IncrementalDedup.oracleSql("q_llm_dedup_simhash_incremental"),
    "q_llm_multi_ingest_winnow" ->
      IncrementalDedup.oracleSql("q_llm_winnow_incremental"),
    "q_llm_multi_ingest_bm25" ->
      IncrementalRetrieval.oracleSql("q_llm_bm25_incremental"))
}
