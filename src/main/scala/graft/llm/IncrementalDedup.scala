package graft.llm


import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sinks.Sinks
import graft.sources.Tables
import graft.llm.XHash._
import graft.util.Streams

/** Incremental near-dup maintenance — the reference's defining behavior
  * (watermark → fetch only what's new → keyed upsert, `git_etl.ts:319-326`)
  * applied to the fuzzy-dedup suite: a persisted MinHash-LSH index is
  * maintained across micro-batch ticks, and each tick LSH-dedups ONLY the
  * new batch against the stored index. This is the composition a 100 TB
  * corpus pipeline actually runs every few minutes; the one-shot entries
  * are its cold-start special case.
  *
  * Per tick ([[tick]], run on each batch of the arrival stream by the
  * engine's one tick driver, [[graft.util.Streams.drain]] over
  * [[graft.util.Streams.ticks]] — one file per trigger):
  *  1. band table of the NEW docs only — per-doc MinHash signatures are
  *     corpus-independent, so a batch's bands equal the full pipeline
  *     restricted to the batch;
  *  2. candidate pairs = new-vs-STORED band equi-join (O(new × bucket
  *     load); the stored side is indexed by band key and never self-joined
  *     again) ∪ new-vs-new self-join within the batch;
  *  3. merge the new bands into the store via the bucket-scoped keyed
  *     merge ([[Sinks.mergeByKeyBucket]], key = doc_id·Bands + band_idx) —
  *     an UPSERT, so a re-crawled doc's new bands replace its old ones;
  *     for append-only arrivals the merge degrades to writing the touched
  *     buckets;
  *  4. store the batch's per-doc distinct shingles tagged with the tick
  *     (verification later resolves each doc to its LATEST set, which is
  *     what keeps re-crawls honest — see [[verifyAccumulated]]).
  *
  * Exactly-once without a transaction log: every per-batch output lands
  * under a `batch_<id>`-keyed path written with overwrite, so an
  * at-least-once replay after a crash overwrites its own previous output
  * (the standard idempotent-foreachBatch pattern); the band upsert is
  * keyed, hence naturally idempotent, and its bucket swap is per-bucket
  * atomic with crash healing (see mergeByKeyBucket). Crash-resume and
  * re-crawl are spec-tested.
  *
  * Final verification (the cheap part — O(candidate docs), not O(corpus)):
  * resolve latest-tick shingle sets, derive corpus-wide df from them,
  * gate by accumulated candidates, exact capped Jaccard via
  * [[Dedup.verifiedPairsFrom]]. Because candidate generation is
  * order-independent (the union over ticks of co-bucket pairs equals the
  * one-shot self-join for append-only arrivals) and the resolved shingle
  * store equals the corpus's, the final state is BIT-IDENTICAL to the
  * one-shot `q_llm_dedup_minhash_lsh` — the oracle for this entry IS the
  * one-shot SQL, which makes the equivalence the driver-checked contract.
  */
object IncrementalDedup {

  /** Wipe all per-entry state (stream source, stores, checkpoint). */
  private[graft] def reset(base: String): Unit = Sinks.truncate(base)

  /** One maintenance tick: dedup `batch` against the stored index, then
    * fold the batch into the index. Idempotent per (batch, batchId). */
  private[graft] def tick(s: SparkSession, batch: DataFrame, batchId: Long,
                          base: String): Unit = {
    val b = batch.select(col("doc_id"), col("text"))
    // ONE shingle-generation pass per tick: the checkpointed (doc_id, sg)
    // stream feeds both the signature/band pipeline and the shingle store
    val sg = Dedup.shingleStreamOf(b).localCheckpoint()
    val bandsNew = Dedup.bandsFromSigs(Dedup.sigsFromShingles(sg)).localCheckpoint()
    val bandStore = s"$base/bands"
    // the read heals first: a tick replayed after a crash inside the
    // previous attempt's bucket swap sees the complete store, where a
    // damaged bucket would silently lose every new-vs-stored pair against it
    val stored = Sinks.readStoreIfExists(s, bandStore)
      .fold(bandsNew.limit(0))(_.select(col("doc_id"), col("band_idx"), col("band_key")))
    // new-vs-stored: the incremental step. Equi-join on (band_idx,
    // band_key) — a hash shuffle of the SMALL new side against the
    // key-partitioned store; pair orientation normalized so accumulated
    // candidates match the one-shot's doc_a < doc_b convention.
    val nvs = bandsNew.alias("a").join(stored.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val nvn = bandsNew.alias("a").join(bandsNew.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // The three per-batch artifacts below are mutually independent
    // (disjoint batchId-keyed paths, all derived from the two
    // checkpointed frames), so they run CONCURRENTLY (r15 — guide-style
    // job overlap: each write's driver planning overlaps the others'
    // executor work). Replay safety is unchanged: a crash leaving any
    // subset written is healed by the replay's idempotent overwrites.
    graft.util.Jobs.inPool(3)(Seq(
      () => nvs.union(nvn).distinct()
        .write.mode("overwrite").parquet(s"$base/cands/batch_$batchId"),
      // Per-doc distinct shingles tagged with their tick, batchId-keyed
      // (idempotent). The tick tag is what makes RE-CRAWLS correct: a doc
      // that arrives again in a later batch contributes two shingle sets to
      // the store, and verification resolves each doc to its LATEST tick's
      // set (additive df partials were dropped for exactly this reason — a
      // replaced doc's old counts can't be subtracted from a running sum).
      () => sg.withColumn("_tick", lit(batchId))
        .write.mode("overwrite").parquet(s"$base/shingles/batch_$batchId"),
      // Doc-presence manifest for EVERY doc in the batch — including docs
      // too short to shingle. Winner resolution reads this, not the shingle
      // store: a re-crawl that shrinks a doc below 3 tokens must still win
      // its doc_id (its pairs then cannot verify — current content has no
      // shingles), or verification would silently score the STALE text.
      // `_del` is the tombstone flag [[forgetTick]] sets; arrivals are live.
      () => b.select(col("doc_id")).withColumn("_tick", lit(batchId))
        .withColumn("_del", lit(false))
        .write.mode("overwrite").parquet(s"$base/docs/batch_$batchId")))
    // band-index upsert LAST: a crash anywhere above replays the whole
    // batch against an index that does not yet contain it. Keyed by
    // (doc, band), so a re-crawled doc's new band keys REPLACE its old
    // ones in the live index.
    Sinks.mergeByKeyBucket(s, bandStore,
      bandsNew.withColumn("bkey", col("doc_id") * Bands + col("band_idx")),
      "bkey", Seq("band_key"))
  }

  // --- Incremental connected components (union-find as a store) ---------

  /** True iff a prior attempt COMPLETED the parquet write at `p` (the
    * `_SUCCESS` marker is committed last, so a crash mid-write leaves no
    * marker and the artifact is recomputed). */
  private def committed(s: SparkSession, p: String): Boolean =
    graft.util.Fs.exists(s"$p/_SUCCESS")

  /** Fold one batch of NEW edges into the persisted label store via
    * COMPONENT CONTRACTION: the fixpoint CC runs on the label graph —
    * one node per existing component touched by the batch, one edge per
    * batch pair — which is O(batch), never O(all edges ever). The store
    * then remaps every member of a merged component to the new canonical
    * (labels are component minima, so the new canonical is the min of
    * the merged labels, preserving the one-shot's least-id convention).
    *
    * Cost model at 100 TB: the contracted CC is tiny; the expensive part
    * is the remap upsert, which is O(members of merged components) rows
    * hashed into the doc-keyed bucket store — batches that merge nothing
    * rewrite only the buckets of their own endpoints, while a batch that
    * bridges two giant components pays for relabeling the smaller... and
    * that cost is the information-theoretic floor for maintaining
    * explicit canonical labels.
    *
    * Replay idempotence is CRASH-WINDOW-SAFE, not just rerun-safe: the
    * computed remap (label → canonical) is persisted to a
    * `batch_<id>`-keyed path BEFORE the store merge, and a replay whose
    * artifact is committed applies the PERSISTED remap instead of
    * re-deriving it from current labels. Without this, a crash inside the
    * merge's per-bucket swap leaves a mixed store (some members remapped,
    * some stale); if the batch ENDPOINTS' buckets were among the swapped,
    * the re-derived label edges are empty and the stale non-endpoint
    * members would never heal. Applying the stored remap is idempotent on
    * the mixed store: already-swapped rows carry canonical labels (not
    * remap keys) and pass through; stale rows match and heal. */
  private[graft] def ccTick(s: SparkSession, batch: DataFrame, batchId: Long,
                            base: String): Unit = {
    val store = s"$base/labels"
    val edges = batch.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val stored = Sinks.readStoreIfExists(s, store)
      .fold(edges.select(col("doc_a").as("doc"), col("doc_a").as("label")).limit(0))(
        _.select(col("doc"), col("label")))
    // current labels of the batch endpoints; unseen nodes label themselves
    val nodes = edges.select(col("doc_a").as("doc"))
      .union(edges.select(col("doc_b").as("doc"))).distinct()
    val cur = nodes.join(stored, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("label"), col("doc")).as("label"))
      .localCheckpoint()
    val remapPath = s"$base/remaps/batch_$batchId"
    if (!committed(s, remapPath)) {
      val lblEdges = edges
        .join(cur.select(col("doc").as("doc_a"), col("label").as("la")), "doc_a")
        .join(cur.select(col("doc").as("doc_b"), col("label").as("lb")), "doc_b")
        .where(col("la") =!= col("lb"))
        .select(col("la").as("doc_a"), col("lb").as("doc_b"))
      Dedup.connectedComponents(lblEdges)
        .where(col("doc_id") =!= col("canonical"))
        .select(col("doc_id").as("label"), col("canonical"))
        .write.mode("overwrite").parquet(remapPath)
    }
    val remap = s.read.parquet(remapPath).localCheckpoint()
    // upsert = all stored members of merged components, remapped, plus the
    // batch endpoints at their (possibly remapped) labels
    val remappedStored = stored.join(remap, "label")
      .select(col("doc"), col("canonical").as("label"))
    val newRows = cur.join(remap, Seq("label"), "left")
      .select(col("doc"), coalesce(col("canonical"), col("label")).as("label"))
    val up = remappedStored.union(newRows)
      .groupBy(col("doc")).agg(min(col("label")).as("label"))
      .withColumn("_tick", lit(batchId))
    Sinks.mergeByKeyBucket(s, store, up, "doc", Seq("_tick"))
    // --- label-bucketed edge log ------------------------------------------
    // Invariant: every stored edge lives in the bucket of its component's
    // CURRENT label, so [[ccForget]]'s subgraph read prunes to the
    // affected labels' buckets instead of scanning every edge ever
    // ingested. Maintenance piggybacks on this tick's remap, split into
    // the cheapest operation that preserves the invariant per row class:
    //  - edges of MERGED-AWAY labels physically move: their SOURCE buckets
    //    (buckets of remap.label — the only place the invariant allows
    //    them to live) are read and rewritten without them;
    //  - moved edges and NEW edges are APPENDED to their target buckets
    //    as one deterministic per-tick file each ([[Sinks.appendBuckets]])
    //    — no read, no swap of the target. A merge-free tick (the common
    //    case) therefore touches NO existing bucket content at all,
    //    where the previous design read + deduped + rewrote every bucket
    //    the batch landed in.
    // Replay/crash safety: the computed move-set is persisted to a
    // `batch_<id>`-keyed artifact BEFORE any bucket mutates (same
    // discipline as the remap artifact above) — a replay applies the
    // PERSISTED moves, so a crash between the source-bucket rewrite and
    // the target-bucket append can never lose a moved edge (re-deriving
    // from the half-rewritten buckets would). The source rewrite is
    // idempotent (anti-join on remap passes already-moved rows through);
    // the append overwrites its own per-tick file by name.
    val elog = s"$base/edges"
    val newLabeled = edges
      .join(newRows.select(col("doc").as("doc_a"), col("label").as("elabel")), "doc_a")
      .select(col("doc_a"), col("doc_b"), col("elabel").as("label"))
    Sinks.initBucketStore(elog, 16, "label", newLabeled.schema)
    val layout = Sinks.layoutOf(elog)
    val srcBuckets = layout.bucketsOf(remap, col("label"))
    val movesPath = s"$base/emoves/batch_$batchId"
    // ONE physical read of the source buckets serves both projections
    // (move-set derivation and the staying set below) on the normal path —
    // localCheckpoint pins the rows so the anti-join doesn't pay the scan
    // twice. On a replay (moves artifact already committed) the buckets
    // may be half-rewritten, so the staying set reads them fresh (lazy,
    // no checkpoint) and the moves come from the persisted artifact.
    val freshTick = !committed(s, movesPath)
    val srcRows = {
      val r = Sinks.readBuckets(s, elog, srcBuckets).select(col("doc_a"), col("doc_b"), col("label"))
      if (freshTick && srcBuckets.nonEmpty) r.localCheckpoint() else r
    }
    if (freshTick) {
      // move-set = remap-matching rows of the source buckets, relabeled
      srcRows.join(remap, "label")
        .select(col("doc_a"), col("doc_b"), col("canonical").as("label"))
        .write.mode("overwrite").parquet(movesPath)
    }
    val moved = s.read.parquet(movesPath)
    val landing = moved.unionByName(newLabeled)
      .withColumn("_bucket", layout.bucketOf(col("label"))).localCheckpoint()
    if (srcBuckets.nonEmpty) {
      // rewrite ONLY the move-source buckets: drop moved-out rows, fold in
      // any moved/new rows that land back inside this same bucket set
      val staying =
        srcRows.join(remap.select(col("label")), Seq("label"), "left_anti")
      val content = staying.withColumn("_bucket", layout.bucketOf(col("label")))
        .unionByName(landing.where(col("_bucket").isin(srcBuckets: _*)))
        .distinct()
      Sinks.rewriteBuckets(s, elog, content, srcBuckets, dropMissing = true)
    }
    val appended = landing.where(!col("_bucket").isin(srcBuckets: _*))
    Sinks.appendBuckets(s, elog, appended, s"t$batchId")
  }

  /** Forget nodes from the incremental-CC store — the HARD direction of
    * dynamic connectivity: deleting a node can SPLIT its component, and no
    * label algebra can detect that locally, so the affected components are
    * recomputed from their surviving edges (and only they — components are
    * closed under edges, so an edge's endpoints always share a label, and
    * the sub-CC can never leak outside the affected set):
    *  1. affected = labels of the deleted docs; purge deleted rows
    *     ([[Sinks.deleteByKeyBucket]], touched buckets only);
    *  2. surviving members = remaining store rows with an affected label;
    *  3. surviving edges = the AFFECTED BUCKETS of the label-bucketed
    *     edge log (file-level pruning — unaffected components' edges are
    *     never listed), minus edges touching a deleted doc, semi-joined
    *     to the surviving members;
    *  4. CC over that subgraph relabels the members; members with no
    *     surviving edge become singletons (label = self);
    *  5. the read buckets are rewritten: deleted docs' edges purged,
    *     surviving edges re-bucketed under their POST-forget labels —
    *     which both preserves the bucketing invariant and keeps dead
    *     edges from resurrecting deleted docs as labels in LATER forgets.
    * Cost: O(deleted + affected members + affected components' edges) —
    * never a scan of the full edge log (spec-asserted on the dir list).
    *
    * Replay idempotence is CRASH-WINDOW-SAFE: the affected-label set is
    * computed from the PRE-DELETE store and persisted to a
    * `tick_<id>`-keyed path BEFORE the keyed delete runs. A naive replay
    * that re-derived `affected` from store rows of the deleted docs would
    * find nothing after a crash between the delete and the relabel merge
    * (the rows are already gone), leaving survivors labeled by deleted
    * doc_ids forever; the persisted artifact drives the recompute on any
    * replay. Replays whose artifact is committed skip straight to the
    * (idempotent) delete + relabel. */
  private[graft] def ccForget(s: SparkSession, base: String,
                              deleted: DataFrame, tickId: Long): Unit = {
    val store = s"$base/labels"
    val del = deleted.select(col("doc_id")).localCheckpoint()
    val affectedPath = s"$base/forgets/tick_$tickId"
    if (!committed(s, affectedPath))
      Sinks.readStore(s, store)
        .join(del, col("doc") === col("doc_id"))
        .select(col("label")).distinct()
        .write.mode("overwrite").parquet(affectedPath)
    val affected = s.read.parquet(affectedPath).localCheckpoint()
    Sinks.deleteByKeyBucket(s, store,
      del.select(col("doc_id").as("doc")), "doc")
    val members = Sinks.readStore(s, store)
      .join(affected, Seq("label"), "left_semi")
      .select(col("doc")).localCheckpoint()
    // pruned edge read: ONLY the affected labels' buckets are listed
    val elog = s"$base/edges"
    val layout = Sinks.layoutOf(elog)
    val aBuckets = forgetEdgeBuckets(base, affected)
    val surviving = Sinks.readBuckets(s, elog, aBuckets).select(col("doc_a"), col("doc_b"), col("label"))
      .join(del.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(del.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .localCheckpoint()
    val edges = surviving
      .join(members.select(col("doc").as("doc_a")), Seq("doc_a"), "left_semi")
    val sub = Dedup.connectedComponents(edges.select(col("doc_a"), col("doc_b")))
    val up = members
      .join(sub, col("doc") === col("doc_id"), "left")
      .select(col("doc"), coalesce(col("canonical"), col("doc")).as("label"))
      .withColumn("_tick", lit(tickId))
    Sinks.mergeByKeyBucket(s, store, up, "doc", Seq("_tick"))
    // edge-log rewrite LAST (after the label merge — the relabel reads
    // the POST-merge store, which is also what makes a replay after any
    // crash window converge): purge the deleted docs' edges, move the
    // survivors to their post-forget labels' buckets, preserve unrelated
    // edges that merely share a bucket.
    val newLab = Sinks.readStore(s, store)
      .select(col("doc").as("doc_a"), col("label").as("nl"))
    val relabeled = surviving.join(newLab, "doc_a")
      .select(col("doc_a"), col("doc_b"), col("nl").as("label"))
    val touchedE = (aBuckets ++ layout.bucketsOf(relabeled, col("label"))).distinct
    if (touchedE.nonEmpty) {
      val keptOther = Sinks.readBuckets(s, elog, touchedE)
        .select(col("doc_a"), col("doc_b"), col("label"))
        .join(affected, Seq("label"), "left_anti")
      val content = keptOther.unionByName(relabeled).distinct()
        .withColumn("_bucket", layout.bucketOf(col("label")))
      Sinks.rewriteBuckets(s, elog, content, touchedE, dropMissing = true)
    }
  }

  /** The edge-log buckets [[ccForget]] reads for an affected-label set —
    * exposed so specs can assert the subgraph read is file-level
    * bucket-pruned (never the full log). */
  private[graft] def forgetEdgeBuckets(base: String, affected: DataFrame): Seq[Int] =
    Sinks.layoutOf(s"$base/edges").bucketsOf(affected, col("label"))

  /** The labels store, or an empty (doc, label) table when no tick ever
    * wrote it — an EMPTY edge stream is a legal corpus state (a fully
    * distinct corpus verifies zero near-dup pairs), and the store read
    * must degrade to "no groups". A store a forget emptied reads as no
    * rows under its recorded schema. */
  private[graft] def labelsOrEmpty(s: SparkSession, base: String): DataFrame =
    Sinks.readStoreIfExists(s, s"$base/labels").getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[Row], StructType(Seq(
        org.apache.spark.sql.types.StructField("doc", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.LongType)))))

  /** Drain a file-stream of edge batches through [[ccTick]] (crash-safe
    * resume via the checkpoint, [[graft.util.Streams.drain]]), then run
    * the small-file maintenance pass over the label store: every tick's
    * remap upsert rewrites its touched buckets with up to
    * shuffle-partitions files each, and without compaction the per-bucket
    * file count grows linearly in ticks — the classic streaming-store
    * decay. Compaction is the same crash-safe staged swap as the merge and
    * is spec-asserted result-identical. */
  private[graft] def runCcTicks(s: SparkSession, base: String): Unit = {
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_b", org.apache.spark.sql.types.LongType)))
    Streams.drain(Streams.ticks(s, s"$base/src", schema), s"$base/ckpt")(ccTick(s, _, _, base))
    Sinks.compactBuckets(s, s"$base/labels")
    Sinks.compactBuckets(s, s"$base/edges")
  }

  /** Right-to-be-forgotten: purge `deleted` doc_ids from the live index.
    * Two writes, both idempotent:
    *  1. a TOMBSTONE manifest batch (`_del = true`) at `tickId`, which must
    *     exceed every arrival tick so the tombstone wins per-doc latest-
    *     tick resolution — the doc then resolves to "no current content",
    *     exactly like a re-crawl below shingle length, and is excluded
    *     from the corpus count, the df universe, and every verified pair;
    *  2. a keyed delete of the doc's [[XHash.Bands]] band rows from the
    *     live band store ([[Sinks.deleteByKeyBucket]] — touched-bucket
    *     rewrite only), so FUTURE arrival ticks generate no candidates
    *     against the forgotten doc. The delete list is tiny relative to
    *     the corpus; at 100 TB the rewrite cost is |deleted| × Bands rows
    *     hashed into a few buckets, never a table scan.
    * Shingle-store batches are left in place (append-only history); they
    * are unreachable once the tombstone wins the manifest, and a later
    * [[Sinks.compactBuckets]]-style retention pass can drop them.
    * Accumulated candidate pairs touching the doc die in verification
    * (its current shingle set is empty), so `verifyAccumulated` equals the
    * one-shot pipeline over the corpus WITHOUT the forgotten docs. */
  private[graft] def forgetTick(s: SparkSession, base: String,
                                deleted: DataFrame, tickId: Long): Unit = {
    val ids = deleted.select(col("doc_id")).localCheckpoint()
    val bandKeys = ids
      .select(explode(array((0 until Bands).map(lit): _*)).as("band_idx"),
        col("doc_id"))
      .select((col("doc_id") * Bands + col("band_idx")).as("bkey"))
    // tombstone write and band delete touch disjoint trees; both are
    // replay-idempotent, so run them concurrently (r15)
    graft.util.Jobs.inPool(2)(Seq(
      () => ids.withColumn("_tick", lit(tickId)).withColumn("_del", lit(true))
        .write.mode("overwrite").parquet(s"$base/docs/batch_$tickId"),
      () => Sinks.deleteByKeyBucket(s, s"$base/bands", bandKeys, "bkey")))
  }

  // --- Incremental SimHash near-dup index --------------------------------
  // The SimHash family's persisted maintenance tier (MinHash has the full
  // shingle-store pipeline above; hyperplane LSH has the ANN band table in
  // IncrementalAnn). A doc's 32-bit fingerprint is corpus-independent, so
  // — like the LSH ANN store and unlike MinHash's df-capped verification —
  // fold ticks are the whole maintenance surface: no re-train tier, no
  // shingle history, no text re-scan ever. Stores: `fps` (doc_id →
  // fingerprint, keyed upsert) and `bands` (doc·4+band_idx → 8-bit band
  // key, keyed upsert, the candidate index). Pair generation happens at
  // SERVE time from the stores alone (the IncrementalAnn.serveLsh
  // contract): the band self-join over capped buckets — the stop-bucket
  // cap is corpus-relative, so its verdict can only be taken against
  // FINAL counts, which is exactly what serving from the store gives.
  // Result = bit-identical to the one-shot q_llm_dedup_simhash_pairs on
  // the store's current corpus, which is the entry's oracle.

  /** Default fingerprint kernel: word-level SimHash. The media variant
    * swaps in the byte-3-gram kernel (`graft_bytesimhash(text)`) — same
    * 32-bit SimHash fingerprint contract (the 4×8-bit banding covers all
    * 32 bits), same store machinery. */
  private[graft] val TextFpExpr = s"graft_simhash(${sparkWordHashes("text")})"
  private[graft] val MediaFpExpr = "graft_bytesimhash(text)"

  /** (doc_id, simhash) of a batch — per-row compiled kernel work. */
  private def simhashOfBatch(b: DataFrame, fpExpr: String): DataFrame = {
    b.selectExpr("doc_id", s"$fpExpr AS simhash")
  }

  private def simhashBandsOf(fp: DataFrame): DataFrame = {
    val bandStructs = (0 until 4).map(bd =>
      s"named_struct('band_idx', $bd, 'band_key', shiftright(simhash, ${bd * graft.functions.GraftKernels.SimBandBits}) & ${graft.functions.GraftKernels.SimBandMask}L)")
      .mkString(", ")
    fp.selectExpr("doc_id", s"explode(array($bandStructs)) AS band")
      .selectExpr("doc_id", "band.band_idx AS band_idx", "band.band_key AS band_key")
  }

  /** Fold one document batch into the SimHash index: fingerprint the
    * batch (O(batch) compiled kernel work — the corpus is not touched)
    * and keyed-upsert fingerprints and bands. Idempotent per
    * (batch, batchId); a re-crawled doc's new fingerprint and band keys
    * replace its old ones. */
  private[graft] def simhashTick(s: SparkSession, batch: DataFrame, batchId: Long,
                                 base: String,
                                 fpExpr: String = TextFpExpr): Unit = {
    val fp = simhashOfBatch(batch.select(col("doc_id"), col("text")), fpExpr)
      .localCheckpoint()
    // disjoint stores fed by the one checkpointed frame: merge both
    // concurrently (r15) — replay is keyed-idempotent under any subset
    graft.util.Jobs.inPool(2)(Seq(
      () => Sinks.mergeByKeyBucket(s, s"$base/fps",
        fp.withColumn("_tick", lit(batchId)), "doc_id", Seq("_tick")),
      () => Sinks.mergeByKeyBucket(s, s"$base/bands",
        simhashBandsOf(fp).withColumn("bkey", col("doc_id") * 4 + col("band_idx")),
        "bkey", Seq("band_key"))))
  }

  /** Serve the near-dup pairs from the STORES: capped band self-join
    * (stop buckets evaluated at final counts — [[Dedup.capSimBands]]),
    * hamming ≤ 3 from stored fingerprints. No document text is read.
    * Forgotten docs are gone from both stores, so their pairs simply
    * never generate. */
  private[graft] def simhashVerify(s: SparkSession, base: String): DataFrame = {
    val fp = Sinks.readStore(s, s"$base/fps").select(col("doc_id"), col("simhash"))
      .localCheckpoint() // both pair sides
    val bands = Sinks.readStore(s, s"$base/bands")
      .select(col("doc_id"), col("band_idx"), col("band_key"))
    val kept = Dedup.capSimBands(bands, fp.agg(count(lit(1)).as("n_corpus")))
      .localCheckpoint()
    val cand = kept.alias("a").join(kept.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("fa")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("fb")), "doc_b")
      .selectExpr("doc_a", "doc_b", "CAST(bit_count(fa ^ fb) AS INT) AS hamming")
      .where(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Right-to-be-forgotten for the SimHash index: keyed deletes from the
    * fingerprint and band stores (touched buckets only). Future ticks see
    * no bands to candidate against; accumulated pairs touching the doc
    * die in [[simhashVerify]]'s inner joins. Idempotent. */
  private[graft] def simhashForget(s: SparkSession, base: String,
                                   deleted: DataFrame): Unit = {
    val ids = deleted.select(col("doc_id")).localCheckpoint()
    val bandKeys = ids
      .select(explode(array((0 until 4).map(lit): _*)).as("band_idx"), col("doc_id"))
      .select((col("doc_id") * 4 + col("band_idx")).as("bkey"))
    // disjoint stores: both keyed deletes concurrently (r15), idempotent
    graft.util.Jobs.inPool(2)(Seq(
      () => Sinks.deleteByKeyBucket(s, s"$base/fps", ids, "doc_id"),
      () => Sinks.deleteByKeyBucket(s, s"$base/bands", bandKeys, "bkey")))
  }

  /** Drain the file-stream of document batches through a simhash tick —
    * crash-safe resume via the checkpoint — then compact the band store. */
  private[graft] def runSimhashTicks(s: SparkSession, base: String,
                                     schema: StructType,
                                     fpExpr: String = TextFpExpr): Unit = {
    Streams.drain(Streams.ticks(s, s"$base/src", schema), s"$base/ckpt")(
      simhashTick(s, _, _, base, fpExpr))
    Seq("fps", "bands").foreach(p => Sinks.compactBuckets(s, s"$base/$p"))
  }

  // --- Incremental winnowing fingerprint index ---------------------------
  // The winnow family's persisted maintenance tier (VERDICT r8 item 4).
  // A doc's winnowed fingerprint SET is corpus-independent — the w=4
  // windowed min over its own positional shingle hashes — so, exactly like
  // SimHash, fold ticks are the whole maintenance surface: no retrain
  // tier, no shingle history, no text re-scan ever. One store: `fps`
  // (doc_id → ARRAY of fingerprints, keyed upsert), one row per doc
  // INCLUDING docs too short to shingle (empty array) so the store's row
  // count IS the one-shot's count(corpus) for the df cap. Pair generation
  // happens at SERVE time from the store alone: the corpus-relative df
  // cap can only be judged against FINAL counts, which is exactly what
  // serving gives. Result = bit-identical to the one-shot
  // q_llm_winnow_dedup on the store's current corpus — the entry's oracle.

  /** One row per BATCH doc: doc_id → its full winnowed fingerprint set
    * (possibly empty). Storing the set as one ARRAY row — instead of one
    * row per fingerprint — makes the keyed upsert atomic under re-crawl:
    * the new version's whole set replaces the old one in a single keyed
    * merge, with no per-fingerprint delete pass. */
  private def winnowFpsOfBatch(b: DataFrame): DataFrame = {
    val fp = Dedup.winnowFingerprintsOf(b)
      .groupBy(col("doc_id")).agg(collect_list(col("fh")).as("fhs"))
    b.select(col("doc_id")).join(fp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("fhs"), array().cast("array<bigint>")).as("fhs"))
  }

  /** Fold one document batch into the winnow index: fingerprint the batch
    * (O(batch) window work — the corpus is not touched) and keyed-upsert
    * the per-doc sets. Idempotent per (batch, batchId). */
  private[graft] def winnowTick(s: SparkSession, batch: DataFrame, batchId: Long,
                                base: String): Unit = {
    val fp = winnowFpsOfBatch(batch.select(col("doc_id"), col("text")))
      .localCheckpoint()
    Sinks.mergeByKeyBucket(s, s"$base/fps",
      fp.withColumn("_tick", lit(batchId)), "doc_id", Seq("_tick"))
  }

  /** Serve the near-dup pairs from the STORE: explode the per-doc sets,
    * df-cap against the store's final corpus count, capped pair join
    * ([[Dedup.winnowPairsFromCapped]]). No document text is read. */
  private[graft] def winnowServe(s: SparkSession, base: String): DataFrame = {
    val st = Sinks.readStore(s, s"$base/fps")
    val n = st.agg(count(lit(1)).as("n_corpus"))
    val fp = st.select(col("doc_id"), explode(col("fhs")).as("fh"))
      .localCheckpoint()
    Dedup.winnowPairsFromCapped(Dedup.winnowCapFps(fp, n).localCheckpoint())
  }

  /** Right-to-be-forgotten for the winnow index: one keyed delete from
    * the fingerprint store (touched buckets only). The forgotten doc's
    * set is gone, so its pairs never generate and the df cap's corpus
    * count shrinks with the store. Idempotent. */
  private[graft] def winnowForget(s: SparkSession, base: String,
                                  deleted: DataFrame): Unit =
    Sinks.deleteByKeyBucket(s, s"$base/fps",
      deleted.select(col("doc_id")).localCheckpoint(), "doc_id")

  /** Drain the file-stream of document batches through a winnow tick —
    * crash-safe resume via the checkpoint — then compact the store. */
  private[graft] def runWinnowTicks(s: SparkSession, base: String,
                                    schema: StructType): Unit = {
    Streams.drain(Streams.ticks(s, s"$base/src", schema), s"$base/ckpt")(winnowTick(s, _, _, base))
    Sinks.compactBuckets(s, s"$base/fps")
  }

  /** Verify ALL accumulated candidates against each doc's CURRENT
    * (latest-tick) shingle set. Per-doc winner resolution makes re-crawls
    * correct: stale shingle sets never contribute to sizes, co-counts, or
    * df. Candidates accumulated from stale bands remain a SUPERSET of the
    * final corpus's one-shot candidates (every pair of latest versions
    * that shares a band was joined when its later member arrived), and
    * verification always scores current content — so for append-only
    * arrivals (the registered entry; the driver-checked contract) the
    * result is bit-identical to the one-shot, and under re-crawls recall
    * is >= the one-shot's (stale-band candidates can only ADD pairs whose
    * current Jaccard passes). */
  private[graft] def verifyAccumulated(s: SparkSession, base: String): DataFrame = {
    val cand = batches(s, s"$base/cands").distinct()
    val sgAll = batches(s, s"$base/shingles")
    // winners come from the doc MANIFEST, not the shingle store: a doc
    // whose latest version has no shingles (< 3 tokens) must still
    // resolve to that version — it then contributes zero rows to `sg`,
    // so its stale pairs cannot verify. (Its old bands may linger in the
    // live index as candidate noise; verification always filters on
    // current content, so that costs recall nothing and precision only
    // candidates, never results.)
    // per-doc winner = the row with the max tick; its `_del` decides
    // whether the doc is still part of the corpus (a tombstone from
    // [[forgetTick]] always carries the highest tick, so a forgotten doc
    // resolves to "deleted" and drops out of count, df, and pairs)
    val latest = batches(s, s"$base/docs")
      .groupBy(col("doc_id"))
      .agg(max(struct(col("_tick"), col("_del"))).as("w"))
      .where(!col("w._del"))
      .select(col("doc_id"), col("w._tick").as("_tick"))
    val sg = sgAll.join(latest, Seq("doc_id", "_tick"))
      .select(col("doc_id"), col("sg"))
    val dfreq = sg.groupBy(col("sg")).agg(count(lit(1)).as("f"))
    // corpus count for the relative df cap = LATEST-winner doc manifest
    // size (every doc that ever arrived, resolved to one row each,
    // including docs too short to shingle) — exactly the one-shot
    // pipeline's count(corpus), which keeps the equivalence oracle exact.
    Dedup.verifiedPairsFrom(cand, sg, dfreq, Dedup.corpusCountOf(latest))
      .selectExpr("doc_a", "doc_b", "CAST(i AS DOUBLE) / (na + nb - i) AS jaccard")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The per-batch artifacts under `dir` — its listed `batch_<id>` dirs —
    * as one frame. A `batch_*` glob read would make Spark stat the literal
    * glob path first and log the miss with a stack trace. */
  private def batches(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.util.Fs.listDirs(dir).filter(_.startsWith("batch_")).map(d => s"$dir/$d"): _*)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The reference's runtime shape (multi-tick incremental sync) applied
    // to the north-star fuzzy-dedup suite: 3 arrival batches (doc_id
    // ranges mimic time-ordered crawl arrival), each tick maintaining the
    // persisted LSH index and deduping only its batch against it. The
    // oracle is the ONE-SHOT minhash-LSH SQL — equivalence is the check.
    "q_llm_dedup_incremental" -> { (s, dir) =>
      val base = Sinks.scratch("neardup_inc")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(3, col("doc_id")).write.parquet(s"$base/src")
      Streams.drain(Streams.ticks(s, s"$base/src", d.schema), s"$base/ckpt")(tick(s, _, _, base))
      // store maintenance between merge windows: coalesce the small files
      // each bucket accumulated across ticks (results unaffected — the
      // compaction spec asserts byte-identical contents; at 100 TB this
      // is the pass that keeps per-bucket file counts bounded)
      Sinks.compactBuckets(s, s"$base/bands")
      verifyAccumulated(s, base)
    },

    // Incremental near-dup GROUP maintenance: the one-shot verified pairs
    // arrive as 3 range batches of edges; each tick folds its batch into
    // a persisted doc->canonical label store by running CC on the
    // CONTRACTED label graph (O(batch) nodes) and remapping only merged
    // components — union-find as a maintained store, the composition of
    // q_llm_dedup_incremental (pairs per tick) and q_llm_dedup_groups
    // (clusters). Oracle = the one-shot groups SQL, so rebuild
    // equivalence is the driver-checked contract; chain merges ACROSS
    // ticks (a later edge bridging two stored components) are the
    // spec-tested hard case.
    "q_llm_groups_incremental" -> { (s, dir) =>
      val base = Sinks.scratch("cc_inc")
      val p = Dedup.verifiedPairsCached(s, dir)
      p.repartitionByRange(3, col("doc_a")).write.parquet(s"$base/src")
      runCcTicks(s, base)
      labelsOrEmpty(s, base)
        .select(col("doc").as("doc_id"), col("label").as("canonical"))
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canonical"))))
        .orderBy(col("doc_id"))
    },

    // Node deletion over the incremental-CC store — the direction no
    // label algebra handles locally (removing a cut vertex SPLITS its
    // component): build the store over 3 ticks, forget doc_id % 7 = 3,
    // recompute ONLY the affected components from surviving edges. The
    // oracle is the transitive closure over the surviving edge set with
    // orphaned members as singletons — graph-level semantics (the edge
    // stream is fixed at ingest), deliberately distinct from
    // q_llm_forget's corpus-level re-verification.
    "q_llm_groups_forget" -> { (s, dir) =>
      val base = Sinks.scratch("cc_forget")
      val p = Dedup.verifiedPairsCached(s, dir)
      // 2 arrival ticks (vs the 3 of q_llm_groups_incremental): forget
      // semantics need an incrementally built store, not a tick count
      p.repartitionByRange(2, col("doc_a")).write.parquet(s"$base/src")
      runCcTicks(s, base)
      val deleted = labelsOrEmpty(s, base)
        .select(col("doc").as("doc_id")).where(col("doc_id") % 7 === 3)
      if (!deleted.isEmpty) ccForget(s, base, deleted, tickId = 1L << 40)
      labelsOrEmpty(s, base)
        .select(col("doc").as("doc_id"), col("label").as("canonical"))
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canonical"))))
        .orderBy(col("doc_id"))
    },

    // The SimHash family's incremental tier: 3 arrival batches fold into
    // the persisted fingerprint/band stores (O(batch) kernel work per
    // tick, corpus never re-read), pairs served from the stores via the
    // capped band join. Oracle = the one-shot q_llm_dedup_simhash_pairs
    // SQL — rebuild equivalence, driver-checked, the same contract as
    // the MinHash and ANN stores.
    "q_llm_dedup_simhash_incremental" -> { (s, dir) =>
      val base = Sinks.scratch("simhash_inc")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(3, col("doc_id")).write.parquet(s"$base/src")
      runSimhashTicks(s, base, d.schema)
      simhashVerify(s, base)
    },

    // GDPR delete through the SimHash index: build over 2 ticks, purge
    // doc_id % 7 = 3 from both keyed stores; forgotten docs can then
    // never generate candidates (their bands are gone) and the capped
    // bucket counts shrink accordingly. Oracle = the one-shot SQL over
    // the kept corpus.
    "q_llm_dedup_simhash_forget" -> { (s, dir) =>
      val base = Sinks.scratch("simhash_forget")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(2, col("doc_id")).write.parquet(s"$base/src")
      runSimhashTicks(s, base, d.schema)
      simhashForget(s, base, d.where(col("doc_id") % 7 === 3))
      simhashVerify(s, base)
    },

    // Incremental maintenance for the MEDIA near-dup index: the same
    // persisted fingerprint/band store as the text SimHash tier — byte
    // fingerprints are corpus-independent, so fold ticks are the whole
    // maintenance surface — with the byte-3-gram kernel
    // (`graft_bytesimhash`) swapped in. New media assets fold in O(batch)
    // kernel work; the payload store is never re-read. Oracle = the
    // one-shot q_llm_media_neardup SQL — rebuild equivalence.
    "q_llm_media_neardup_incremental" -> { (s, dir) =>
      val base = Sinks.scratch("media_fp_inc")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(3, col("doc_id")).write.parquet(s"$base/src")
      runSimhashTicks(s, base, d.schema, fpExpr = MediaFpExpr)
      simhashVerify(s, base)
    },

    // GDPR delete through the media fingerprint index (a takedown notice
    // against specific assets): build over 2 ticks, purge doc_id % 7 = 3
    // from both keyed stores — removed assets can never candidate again
    // and the capped bucket counts shrink. Oracle = one-shot media SQL
    // over the kept corpus.
    "q_llm_media_neardup_forget" -> { (s, dir) =>
      val base = Sinks.scratch("media_fp_forget")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(2, col("doc_id")).write.parquet(s"$base/src")
      runSimhashTicks(s, base, d.schema, fpExpr = MediaFpExpr)
      simhashForget(s, base, d.where(col("doc_id") % 7 === 3))
      simhashVerify(s, base)
    },

    // The winnow family's incremental tier: 3 arrival batches fold into
    // the persisted per-doc fingerprint-set store (O(batch) window work
    // per tick, corpus never re-read), pairs served from the store via
    // the capped fingerprint join. Oracle = the one-shot
    // q_llm_winnow_dedup SQL — rebuild equivalence, driver-checked, the
    // same contract as the MinHash/SimHash/ANN stores.
    "q_llm_winnow_incremental" -> { (s, dir) =>
      val base = Sinks.scratch("winnow_inc")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(3, col("doc_id")).write.parquet(s"$base/src")
      runWinnowTicks(s, base, d.schema)
      winnowServe(s, base)
    },

    // GDPR delete through the winnow index: build over 2 ticks, purge
    // doc_id % 7 = 3 from the keyed store; forgotten docs then never
    // generate pairs and the corpus-relative df cap shrinks with the
    // store. Oracle = the one-shot SQL over the kept corpus.
    "q_llm_winnow_forget" -> { (s, dir) =>
      val base = Sinks.scratch("winnow_forget")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.repartitionByRange(2, col("doc_id")).write.parquet(s"$base/src")
      runWinnowTicks(s, base, d.schema)
      winnowForget(s, base, d.where(col("doc_id") % 7 === 3))
      winnowServe(s, base)
    },

    // Dedup-at-ingest gate — the production shape every crawl pipeline
    // runs in front of its corpus: the EXISTING corpus's MinHash
    // signature + band index is built once as static state; NEW
    // documents arrive as a stream (two real micro-batches) and each
    // batch is gated inside foreachBatch — banded candidates against the
    // static index only (never new-vs-new: the gate's question is "is
    // this already in the corpus?"), verdict by signature agreement
    // (n_agree of K=16 components; >= 8 ≈ estimated Jaccard >= 0.5 —
    // signature-only, so the gate never re-reads corpus text). Per-doc
    // results depend only on that doc's bands, so batch boundaries can't
    // change any verdict, and each batch's output goes to a
    // batchId-keyed path (overwrite = replay-idempotent). Oracle = the
    // same directional band join + agreement count in one-shot SQL.
    "stream_llm_dedup_gate" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldSigs = Dedup.minhashSigsOf(d.where(col("doc_id") % 3 =!= 0))
        .localCheckpoint()
      val oldBands = Dedup.bandsFromSigs(oldSigs)
        .select(col("doc_id").as("old_id"), col("band_idx"), col("band_key"))
        .localCheckpoint()
      val oldSigsR = oldSigs.select(
        col("doc_id").as("old_id") +:
          (0 until XHash.K).map(k => col(s"m$k").as(s"o$k")): _*)
      val base = Sinks.scratch("stream_dedup_gate")
      val newDocs = d.where(col("doc_id") % 3 === 0)
      Streams.land(base, (0 to 1).map(t => newDocs.where(expr(s"(doc_id DIV 3) % 2 = $t"))))
      val agreeExpr = (0 until XHash.K).map(k => s"IF(m$k = o$k, 1, 0)").mkString(" + ")
      Streams.drain(Streams.ticks(s, s"$base/src", d.schema), s"$base/ckpt") { (batch, bid) =>
        val bSigs = Dedup.minhashSigsOf(batch).localCheckpoint()
        val cand = Dedup.bandsFromSigs(bSigs)
          .join(oldBands, Seq("band_idx", "band_key"))
          .select(col("doc_id"), col("old_id")).distinct()
        val best = cand
          .join(bSigs, "doc_id").join(oldSigsR, "old_id")
          .selectExpr("doc_id", "old_id", s"CAST($agreeExpr AS INT) AS agree")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
              .orderBy(col("agree").desc, col("old_id"))))
          .where(col("rn") === 1)
        batch.select(col("doc_id"))
          .join(best.select(col("doc_id"), col("old_id"), col("agree")),
            Seq("doc_id"), "left")
          .selectExpr("doc_id", "CAST(coalesce(agree, 0) AS INT) AS n_agree",
            "old_id AS best_match")
          .selectExpr("doc_id", "n_agree >= 8 AS is_dup", "best_match", "n_agree")
          .write.mode("overwrite").parquet(s"$base/out/batch_$bid")
      }
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .orderBy(col("doc_id"))
    },

    // Right-to-be-forgotten over the same store: build the index with 3
    // arrival ticks, then purge a deterministic delete list (doc_id % 7 =
    // 3 — a GDPR request hitting ~14% of the corpus) via [[forgetTick]]:
    // tombstone the manifest + keyed-delete the live band rows. The oracle
    // is the ONE-SHOT pipeline over the KEPT corpus — equivalence proves
    // the deletion propagated through count, df universe, candidates, and
    // verification, not just the manifest.
    "q_llm_forget" -> { (s, dir) =>
      val base = Sinks.scratch("neardup_forget")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      // 2 arrival ticks (vs the 3 of q_llm_dedup_incremental): the forget
      // semantics need an index built incrementally, not a specific tick
      // count, and each tick costs a full stream trigger + merges
      d.repartitionByRange(2, col("doc_id")).write.parquet(s"$base/src")
      Streams.drain(Streams.ticks(s, s"$base/src", d.schema), s"$base/ckpt")(tick(s, _, _, base))
      forgetTick(s, base, d.where(col("doc_id") % 7 === 3), tickId = 1L << 40)
      verifyAccumulated(s, base)
    })

  /** Identical to the one-shot entry's SQL by design (SURVEY §5.2
    * incremental-equals-batch equivalence, driver-checked); the forget
    * entry's oracle is the same SQL over the kept (non-deleted) corpus. */
  def oracleSql: Map[String, String] = Map(
    "q_llm_dedup_incremental" -> Dedup.oracleSql("q_llm_dedup_minhash_lsh"),
    "q_llm_groups_incremental" -> Dedup.oracleSql("q_llm_dedup_groups"),
    "q_llm_dedup_simhash_incremental" -> Dedup.duckSimhashPairsSql(),
    "q_llm_winnow_incremental" -> Dedup.duckWinnowPairsSql(),
    "q_llm_media_neardup_incremental" -> Multimodal.duckMediaNearDupSql(),
    "q_llm_media_neardup_forget" -> s"""
      WITH kept AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),
      ${Multimodal.duckMediaNearDupSql("kept").trim.stripPrefix("WITH")}""",
    // directional band join (new % 3 = 0 side vs old side) + component
    // agreement count over the shared full-corpus sig/bands CTEs; the
    // null arm is the left join back to every new doc
    "stream_llm_dedup_gate" -> {
      val agreeSum = (0 until XHash.K)
        .map(k => s"(CASE WHEN n.m$k = o.m$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      WITH ${Dedup.candCtes("documents")},
      gcand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),
      agr AS (
        SELECT c.new_id, c.old_id, CAST($agreeSum AS INT) AS agree
        FROM gcand c JOIN sig n ON n.doc_id = c.new_id
                     JOIN sig o ON o.doc_id = c.old_id),
      best AS (
        SELECT new_id, old_id, agree,
               row_number() OVER (PARTITION BY new_id
                 ORDER BY agree DESC, old_id) AS rn
        FROM agr),
      final AS (
        SELECT d.doc_id,
               CAST(coalesce(b.agree, 0) AS INT) AS n_agree,
               b.old_id AS best_match
        FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id)
      SELECT doc_id, n_agree >= 8 AS is_dup, best_match, n_agree
      FROM final ORDER BY doc_id"""
    },
    "q_llm_winnow_forget" -> s"""
      WITH kept AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),
      ${Dedup.duckWinnowPairsSql("kept").trim.stripPrefix("WITH")}""",
    "q_llm_dedup_simhash_forget" -> s"""
      WITH kept AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),
      ${Dedup.duckSimhashPairsSql("kept").trim.stripPrefix("WITH")}""",
    // closure over the SURVIVING edges (edges minus deleted endpoints),
    // with members orphaned by the deletion kept as singletons
    "q_llm_groups_forget" -> s"""
      WITH RECURSIVE ${Dedup.verifiedPairCtes("documents")},
      -- DISTINCT-over-subquery, NOT a top-level UNION: inside WITH
      -- RECURSIVE, DuckDB treats a CTE with a top-level UNION as a
      -- recursive anchor/step pair and skips cross-branch dedup (the
      -- edges CTEs survive only because their branches are disjoint)
      orig_nodes AS (
        SELECT DISTINCT d FROM (
          SELECT doc_a AS d FROM vpairs UNION ALL SELECT doc_b FROM vpairs)),
      kept_nodes AS (SELECT d FROM orig_nodes WHERE d % 7 <> 3),
      kedges0 AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        WHERE doc_a % 7 <> 3 AND doc_b % 7 <> 3),
      kedges AS (SELECT a, b FROM kedges0 UNION SELECT b, a FROM kedges0),
      reach(a, b) AS (
        SELECT a, b FROM kedges
        UNION
        SELECT r.a, e.b FROM reach r JOIN kedges e ON r.b = e.a),
      canon AS (
        SELECT a AS doc_id, least(a, min(b)) AS canonical
        FROM reach GROUP BY a),
      final AS (
        SELECT k.d AS doc_id, coalesce(c.canonical, k.d) AS canonical
        FROM kept_nodes k LEFT JOIN canon c ON c.doc_id = k.d)
      SELECT doc_id, canonical,
             count(*) OVER (PARTITION BY canonical) AS cluster_size
      FROM final ORDER BY doc_id""",
    "q_llm_forget" -> s"""
      WITH kept AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),
      ${Dedup.verifiedPairCtes("kept")}
      SELECT doc_a, doc_b,
             CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
      FROM vpairs
      ORDER BY doc_a, doc_b""")
}
