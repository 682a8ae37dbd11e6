package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.Tables
import graft.util.Streams

/** Persisted, incrementally-maintained BM25 inverted index — the
  * reference's persisted-store identity (`git_etl.ts:127-132`, `:319-326`)
  * applied to the retrieval arm, closing the one index family
  * ([[Retrieval]]) that was still rebuilt from the corpus per query.
  *
  * The index is two stores:
  *  - `postings`: doc_id → `(dl, tfs: array<struct<h, m>>)` — ONE row per
  *    document holding its length and packed term-frequency list, keyed
  *    so a re-ingested document replaces ALL its postings atomically (a
  *    row-per-posting layout upserted by doc would strand stale (doc,
  *    old-term) rows when a document's text changes);
  *  - `dfc`: the corpus-stats snapshot `(h, f, n_docs, avgdl)` with the
  *    corpus-relative stop-term cap applied — an atomic-swap table.
  *
  * Maintenance has the two production tiers (the IVF pattern,
  * [[IncrementalAnn]]):
  *
  *  - **Fold tick** (every arrival batch, cheap): tokenize ONLY the batch
  *    (compiled kernel work — the corpus is not touched) and keyed-merge
  *    the packed rows. Between stats refreshes, `dfc` is stale-but-useful:
  *    new documents are retrievable immediately, scored with slightly
  *    stale idf — exactly how production search engines serve between
  *    stats rebuilds.
  *  - **Stats refresh** (periodic): one slim aggregation over the
  *    postings store's `(h)` keys and doc lengths rebuilds `dfc`
  *    ([[Retrieval.dfcOf]]) and swaps it atomically. The pass never
  *    shuffles document text — only long keys and counts.
  *
  * **Serving never aggregates the corpus for stats**: [[serve]] explodes
  * the postings store, broadcasts the pseudo-query terms, and scores with
  * [[Retrieval.bm25FromParts]] — the SAME code path as the one-shot
  * build, so the operation order (and hence the cross-engine exactness
  * contract) exists in exactly one place.
  *
  * Equivalence contract: after a stats refresh, the stores hold exactly
  * the one-shot tokenization + stats of the current corpus, so served
  * rankings are BIT-IDENTICAL to q_llm_bm25 on the same documents — the
  * oracle for the incremental entry is the one-shot SQL, and for the
  * forget entry the one-shot SQL over the kept corpus (deletion provably
  * propagates through postings, df, avgdl, and ranking: dropping a
  * document shifts every idf term, so a forget that skipped the stats
  * refresh would be caught by the hash compare).
  *
  * Crash/replay posture (spec-tested, [[graft.IncrementalRetrievalSpec]]):
  * fold ticks are keyed upserts (replay converges), the stats refresh is
  * an atomic overwrite, and deletes are idempotent touched-bucket
  * rewrites — the [[Sinks]] store contract.
  */
object IncrementalRetrieval {

  /** One packed index row per document in `batch`: `(doc_id, dl, tfs)`.
    * Token-free documents get no row — the same `size(wh) >= 1` gate the
    * one-shot build applies, so store contents match it exactly. */
  private def packed(batch: DataFrame): DataFrame = {
    batch.selectExpr("doc_id", s"${XHash.sparkWordHashes("text")} AS wh")
      .where(expr("size(wh) >= 1"))
      .selectExpr("doc_id", "CAST(size(wh) AS BIGINT) AS dl", "explode(wh) AS h")
      .groupBy(col("doc_id"), col("dl"), col("h")).agg(count(lit(1)).as("m"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(collect_list(struct(col("h"), col("m"))).as("tfs"))
  }

  /** Fold one arrival batch into the postings store. Idempotent per
    * (batch, batchId): the merge is a keyed upsert and a document's whole
    * posting list rides in one row. */
  private[graft] def tick(s: SparkSession, batch: DataFrame, batchId: Long,
                          base: String): Unit =
    Sinks.mergeByKeyBucket(s, s"$base/postings",
      packed(batch.select(col("doc_id"), col("text")))
        .withColumn("_tick", lit(batchId)),
      "doc_id", Seq("_tick"))

  /** Unpack the postings store into the `(tf, dl)` parts the scorer
    * consumes — slim columns only, text never reappears. Reads through
    * the merge-on-read delete mask ([[Sinks.readWithDeletes]]): a store
    * with no pending deletes plans with zero overhead (no join node at
    * all), while a pending GDPR sidecar masks forgotten documents out of
    * BOTH the stats refresh and serving without any bucket having been
    * rewritten yet. */
  private def parts(s: SparkSession, base: String): (DataFrame, DataFrame) = {
    val p = Sinks.readWithDeletes(s, s"$base/postings", "doc_id")
    val tf = p.selectExpr("doc_id", "explode(tfs) AS z")
      .selectExpr("doc_id", "z.h AS h", "z.m AS m")
    (tf, p.select(col("doc_id"), col("dl")))
  }

  /** Periodic stats tier: rebuild the df/avgdl snapshot from the postings
    * store and swap it atomically. After this tick the index is
    * bit-identical to a from-scratch build on the store's contents. */
  private[graft] def refreshStats(s: SparkSession, base: String): Unit = {
    val (tf, dl) = parts(s, base)
    Sinks.writeAtomic(Retrieval.dfcOf(tf, dl), s"$base/dfc")
  }

  /** Serve top-5 per pseudo-query from the stores — no corpus-wide stats
    * aggregation: postings explode + stored `dfc` snapshot feed the shared
    * scorer. Output shape matches q_llm_bm25 exactly. */
  private[graft] def serve(s: SparkSession, base: String): DataFrame = {
    val (tf, dl) = parts(s, base)
    Retrieval.bm25Rank(
      Retrieval.bm25FromParts(tf, dl, s.read.parquet(s"$base/dfc")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The reference's runtime shape (multi-tick incremental sync) applied
    // to the retrieval index: 3 arrival batches fold into the persisted
    // postings store (tokenize-only-the-batch), a stats refresh runs after
    // the last one (the periodic maintenance a production search engine
    // schedules), and rankings are SERVED from the stores. Oracle = the
    // one-shot BM25 SQL — rebuild equivalence, driver-checked.
    "q_llm_bm25_incremental" -> { (s, dir) =>
      val base = Sinks.scratch("bm25_inc")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(3, col("doc_id")).write.parquet(s"$base/src")
      Streams.drain(Streams.ticks(s, s"$base/src", d.schema), s"$base/ckpt")(tick(s, _, _, base))
      // bound the per-bucket file sets the fold ticks accumulated before
      // the stats pass scans the store; results unaffected (spec-asserted)
      Sinks.compactBuckets(s, s"$base/postings")
      refreshStats(s, base)
      serve(s, base)
    },

    // GDPR delete through the retrieval index — served MERGE-ON-READ:
    // build incrementally, then the delete request only APPENDS the
    // forgotten doc_ids to the postings store's sidecar
    // ([[Sinks.deleteByKeyMoR]] — zero data buckets rewritten at request
    // time; at 100 TB a delete request must not pay a store rewrite),
    // and the stats refresh + serving read through the mask
    // ([[parts]]/[[Sinks.readWithDeletes]]). Deletion must propagate
    // through BOTH stores: forgotten documents vanish from candidates
    // via the mask, and from every other ranking via the idf/avgdl
    // shift the refresh applies — which is WHY the oracle (one-shot SQL
    // over a kept CTE) can check it with a hash compare, pending
    // deletes and all. The copy-on-write tier stays gate-covered by the
    // other forget entries (simhash/winnow/ivf/pq/groups use
    // deleteByKeyBucket) and the compaction convergence by
    // IncrementalRetrievalSpec + SinksSpec.
    "q_llm_bm25_forget" -> { (s, dir) =>
      val base = Sinks.scratch("bm25_forget")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(2, col("doc_id")).write.parquet(s"$base/src")
      Streams.drain(Streams.ticks(s, s"$base/src", d.schema), s"$base/ckpt")(tick(s, _, _, base))
      val del = d.select(col("doc_id"))
        .where(expr(s"doc_id % 9 = 4 AND doc_id >= ${Retrieval.QMax}")) // queries stay live
      Sinks.deleteByKeyMoR(s, s"$base/postings", del, "doc_id", tag = "gdpr")
      refreshStats(s, base)
      serve(s, base)
    })

  /** Identical to the one-shot q_llm_bm25 SQL by design (rebuild
    * equivalence after the stats refresh, driver-checked). */
  def oracleSql: Map[String, String] = Map(
    "q_llm_bm25_incremental" -> Retrieval.duckBm25Sql(),
    // one-shot BM25 over the KEPT corpus — df, avgdl, and rankings all
    // re-derive from the kept documents, exactly what the delete + stats
    // refresh maintenance pass produces
    "q_llm_bm25_forget" -> s"""
      WITH bkept AS (
        SELECT * FROM documents
        WHERE NOT (doc_id % 9 = 4 AND doc_id >= ${Retrieval.QMax})),
      ${Retrieval.duckBm25Sql("bkept").trim.stripPrefix("WITH")}""")
}
