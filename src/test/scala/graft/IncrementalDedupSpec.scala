package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, IncrementalDedup}
import graft.sinks.Sinks
import graft.util.Streams

/** Incremental LSH index maintenance: one-shot equivalence, crash-resume
  * from the checkpoint, and at-least-once replay idempotence (the three
  * properties that make the entry's oracle — the one-shot SQL — valid). */
class IncrementalDedupSpec extends SparkSpec {

  // 30 docs: 1..10 unique-ish, and (i, i+100) identical pairs for i in
  // 1..10 — so the expected verified pairs are exactly the 10 dup pairs
  // (distinct filler tokens keep unrelated docs below Jaccard 0.5)
  private def corpus: DataFrame = {
    import spark.implicits._
    val dups = (1 to 10).flatMap { i =>
      val text = s"shared template alpha beta gamma delta id$i unique$i tail$i words$i"
      Seq((i.toLong, text), (i + 100L, text))
    }
    val uniques = (31 to 40).map(i =>
      (i.toLong, s"totally different content z$i y$i x$i w$i v$i u$i t$i s$i"))
    (dups ++ uniques).toDF("doc_id", "text")
  }

  test("incremental index equals one-shot across crash-resume and replay") {
    import spark.implicits._
    val base = Sinks.scratch("spec_neardup")
    val d = corpus.localCheckpoint()
    // one-shot truth on the full corpus
    val oneShot = Dedup.minhashVerifiedPairsOf(d)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted

    // arrival in 3 files; only the FIRST is present before the "crash"
    def writeSlice(cond: org.apache.spark.sql.Column): Unit =
      d.where(cond).coalesce(1).write.mode("append").parquet(s"$base/src")
    writeSlice($"doc_id" <= 7)
    Streams.drain(Streams.ticks(spark, s"$base/src", d.schema), s"$base/ckpt")(
      IncrementalDedup.tick(spark, _, _, base)) // tick 1, then "crash"
    // resume: remaining batches arrive, SAME checkpoint picks up only them
    writeSlice($"doc_id" > 7 && $"doc_id" <= 103)
    writeSlice($"doc_id" > 103)
    Streams.drain(Streams.ticks(spark, s"$base/src", d.schema), s"$base/ckpt")(
      IncrementalDedup.tick(spark, _, _, base))

    val inc = IncrementalDedup.verifyAccumulated(spark, base)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
    assert(inc === oneShot, "incremental final state must equal one-shot")
    assert(inc.length === 10, "exactly the 10 planted dup pairs")

    // at-least-once replay: re-running an already-folded batch against the
    // now-complete index must not change the final state (batchId-keyed
    // overwrite + keyed band upsert)
    IncrementalDedup.tick(spark, d.where($"doc_id" <= 7), 0L, base)
    val replayed = IncrementalDedup.verifyAccumulated(spark, base)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
    assert(replayed === oneShot, "replay must be idempotent")
  }

  test("re-crawled docs are verified on CURRENT content, not double-counted") {
    import spark.implicits._
    val rbase = Sinks.scratch("spec_neardup_recrawl")
    val textA = "original content alpha beta gamma delta one two three four"
    val textB = "replacement body epsilon zeta eta theta five six seven eight"
    // tick 0: doc 1 has textA, doc 2 has textB (no pair: disjoint text)
    IncrementalDedup.tick(spark,
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), 0L, rbase)
    assert(IncrementalDedup.verifyAccumulated(spark, rbase).count() === 0)
    // tick 1: doc 1 is RE-CRAWLED with textB — now an exact dup of doc 2
    IncrementalDedup.tick(spark,
      Seq((1L, textB)).toDF("doc_id", "text"), 1L, rbase)
    val out = IncrementalDedup.verifyAccumulated(spark, rbase)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
    // one pair, at EXACTLY 1.0 — a double-counted shingle store would
    // inflate sizes/co-counts and report jaccard 2.0 (or drop the pair)
    assert(out.toSeq === Seq((1L, 2L, 1.0)))
    // tick 2: doc 1 re-crawled BELOW the shingling floor (< 3 tokens) —
    // the doc manifest must still resolve doc 1 to this version, so its
    // stale pair with doc 2 vanishes (verification scores CURRENT
    // content; a shingle-store-based winner would keep serving tick 1)
    IncrementalDedup.tick(spark,
      Seq((1L, "hi")).toDF("doc_id", "text"), 2L, rbase)
    assert(IncrementalDedup.verifyAccumulated(spark, rbase).count() === 0)
  }

  test("forgetTick purges a doc from results AND the live band index") {
    import spark.implicits._
    val fbase = Sinks.scratch("spec_neardup_forget")
    val t1 = "shared template alpha beta gamma delta one two three four"
    val t2 = "other template epsilon zeta eta theta five six seven eight"
    // docs 1=2 and 3=4 are dup pairs; doc 5 unrelated
    IncrementalDedup.tick(spark, Seq(
      (1L, t1), (2L, t1), (3L, t2), (4L, t2),
      (5L, "independent body q w e r t y u i o p")).toDF("doc_id", "text"),
      0L, fbase)
    assert(IncrementalDedup.verifyAccumulated(spark, fbase)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
      === Seq((1L, 2L), (3L, 4L)))

    // forget doc 2: its pair disappears, 3-4 survives
    IncrementalDedup.forgetTick(spark, fbase, Seq(2L).toDF("doc_id"), 100L)
    assert(IncrementalDedup.verifyAccumulated(spark, fbase)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
      === Seq((3L, 4L)))
    // the LIVE index no longer holds any band row for doc 2 — future
    // arrival ticks can never generate a candidate against it
    assert(spark.read.parquet(s"$fbase/bands")
      .where($"doc_id" === 2L).count() === 0)
    assert(spark.read.parquet(s"$fbase/bands").where($"doc_id" === 1L).count() > 0)

    // a NEW arrival with doc 2's exact text pairs with doc 1 but NOT with
    // the forgotten doc 2 (no stale-band candidates)
    IncrementalDedup.tick(spark, Seq((6L, t1)).toDF("doc_id", "text"), 1L, fbase)
    assert(IncrementalDedup.verifyAccumulated(spark, fbase)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
      === Seq((1L, 6L), (3L, 4L)))

    // replaying the SAME forget is a no-op (idempotent delete)
    IncrementalDedup.forgetTick(spark, fbase, Seq(2L).toDF("doc_id"), 100L)
    assert(IncrementalDedup.verifyAccumulated(spark, fbase)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
      === Seq((1L, 6L), (3L, 4L)))
    // re-arrival AFTER forgetting: a re-crawl of doc 2 at a later tick
    // outranks the tombstone — the doc rejoins the corpus
    IncrementalDedup.tick(spark, Seq((2L, t2)).toDF("doc_id", "text"), 200L, fbase)
    assert(IncrementalDedup.verifyAccumulated(spark, fbase)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
      === Seq((1L, 6L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("deleteByKeyBucket drops rows, empty buckets, and survives replay") {
    import spark.implicits._
    val store = Sinks.scratch("spec_delstore")
    // 64 keys over 16 buckets: bucket b holds keys b, b+16, b+32, b+48
    Sinks.mergeByKeyBucket(spark, store,
      (0L until 64L).map(k => (k, s"v$k")).toDF("k", "v"), "k", Seq("v"))
    // delete all 4 keys of bucket 3 (empties it) + one key of bucket 5
    Sinks.deleteByKeyBucket(spark, store,
      Seq(3L, 19L, 35L, 51L, 5L).toDF("k"), "k")
    val left = spark.read.parquet(store).select($"k").as[Long].collect().sorted
    assert(left.length === 59 && !left.exists(Set(3L, 19L, 35L, 51L, 5L)))
    // bucket 3's dir is gone entirely, not left stale
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$store/_bucket=3")))
    // replay of the same delete list: unchanged
    Sinks.deleteByKeyBucket(spark, store, Seq(3L, 5L).toDF("k"), "k")
    assert(spark.read.parquet(store).count() === 59)
    // a later merge can re-create the emptied bucket
    Sinks.mergeByKeyBucket(spark, store, Seq((3L, "v3b")).toDF("k", "v"),
      "k", Seq("v"))
    assert(spark.read.parquet(store).where($"k" === 3L)
      .select($"v").as[String].head() === "v3b")
  }

  test("incremental CC: a later edge bridges two stored components; replay is idempotent") {
    import spark.implicits._
    val ccBase = Sinks.scratch("spec_cc_inc")
    def labels: Map[Long, Long] =
      spark.read.parquet(s"$ccBase/labels")
        .select($"doc", $"label").as[(Long, Long)].collect().toMap
    IncrementalDedup.ccTick(spark, Seq((1L, 2L)).toDF("doc_a", "doc_b"), 0L, ccBase)
    IncrementalDedup.ccTick(spark, Seq((3L, 4L)).toDF("doc_a", "doc_b"), 1L, ccBase)
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
      "two separate components before the bridge")
    // the bridge edge merges {1,2} and {3,4} — every member of the LOSING
    // component (3,4) must be remapped, not just the endpoints
    IncrementalDedup.ccTick(spark, Seq((2L, 3L)).toDF("doc_a", "doc_b"), 2L, ccBase)
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // at-least-once replay of the bridge tick: same store afterwards
    IncrementalDedup.ccTick(spark, Seq((2L, 3L)).toDF("doc_a", "doc_b"), 2L, ccBase)
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("incremental CC stream resumes from its checkpoint (only unseen batches)") {
    import spark.implicits._
    val ccBase = Sinks.scratch("spec_cc_resume")
    def labels: Map[Long, Long] =
      spark.read.parquet(s"$ccBase/labels")
        .select($"doc", $"label").as[(Long, Long)].collect().toMap
    Seq((1L, 2L)).toDF("doc_a", "doc_b")
      .coalesce(1).write.parquet(s"$ccBase/src")
    IncrementalDedup.runCcTicks(spark, ccBase) // "crash" after draining batch 0
    assert(labels === Map(1L -> 1L, 2L -> 1L))
    // new edges arrive while the job is down; the restarted stream must
    // process ONLY them (the checkpoint already covers batch 0) and the
    // bridge must still merge against the STORED component
    Seq((3L, 4L), (2L, 3L)).toDF("doc_a", "doc_b")
      .coalesce(1).write.mode("append").parquet(s"$ccBase/src")
    IncrementalDedup.runCcTicks(spark, ccBase)
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("incremental SimHash index: one-shot equivalence, replay, forget") {
    import spark.implicits._
    val sbase = Sinks.scratch("spec_simhash")
    val d = corpus.localCheckpoint()
    val tdir = Sinks.scratch("spec_simhash_table")
    d.write.parquet(s"$tdir/documents.parquet")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      df.select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
    val truth = pairsOf(Dedup.queries("q_llm_dedup_simhash_pairs")(spark, tdir))
    assert(truth.nonEmpty, "fixture must contain simhash near-dups")
    d.repartitionByRange(3, $"doc_id").write.parquet(s"$sbase/src")
    IncrementalDedup.runSimhashTicks(spark, sbase, d.schema)
    assert(pairsOf(IncrementalDedup.simhashVerify(spark, sbase)) === truth,
      "incremental SimHash store must equal the one-shot pairs")
    // at-least-once replay of an already-folded batch
    IncrementalDedup.simhashTick(spark, d.where($"doc_id" <= 7), 0L, sbase)
    assert(pairsOf(IncrementalDedup.simhashVerify(spark, sbase)) === truth,
      "replay must be idempotent")
    // forget the re-crawled copies (doc_id > 100): result must equal the
    // one-shot over the kept corpus — stale candidates die on the
    // fingerprint joins
    IncrementalDedup.simhashForget(spark, sbase,
      d.where($"doc_id" > 100).select($"doc_id"))
    val keptDir = Sinks.scratch("spec_simhash_kept")
    d.where($"doc_id" <= 100).write.parquet(s"$keptDir/documents.parquet")
    val truthKept = pairsOf(Dedup.queries("q_llm_dedup_simhash_pairs")(spark, keptDir))
    assert(pairsOf(IncrementalDedup.simhashVerify(spark, sbase)) === truthKept,
      "forget must equal the one-shot over the kept corpus")
  }

  test("incremental winnow index: one-shot equivalence, replay, re-crawl, forget") {
    import spark.implicits._
    val wbase = Sinks.scratch("spec_winnow")
    val d = corpus.localCheckpoint()
    val tdir = Sinks.scratch("spec_winnow_table")
    d.write.parquet(s"$tdir/documents.parquet")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      df.select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
    val truth = pairsOf(Dedup.queries("q_llm_winnow_dedup")(spark, tdir))
    assert(truth.nonEmpty, "fixture must contain winnow near-dups")
    d.repartitionByRange(3, $"doc_id").write.parquet(s"$wbase/src")
    IncrementalDedup.runWinnowTicks(spark, wbase, d.schema)
    assert(pairsOf(IncrementalDedup.winnowServe(spark, wbase)) === truth,
      "incremental winnow store must equal the one-shot pairs")
    // at-least-once replay of an already-folded batch
    IncrementalDedup.winnowTick(spark, d.where($"doc_id" <= 7), 0L, wbase)
    assert(pairsOf(IncrementalDedup.winnowServe(spark, wbase)) === truth,
      "replay must be idempotent")
    // re-crawl: doc 1's new content no longer matches 101 — the upsert
    // must REPLACE its whole fingerprint set (the array-row design), so
    // the (1, 101) pair dies while every other pair survives
    IncrementalDedup.winnowTick(spark,
      Seq((1L, "completely rewritten page n1 n2 n3 n4 n5 n6 n7 n8 n9"))
        .toDF("doc_id", "text"), 99L, wbase)
    assert(pairsOf(IncrementalDedup.winnowServe(spark, wbase)) ===
      truth.filterNot(p => p._1 == 1L && p._2 == 101L),
      "a re-crawled doc's stale fingerprints must not pair")
    // forget the re-crawled copies: result = one-shot over the kept corpus
    IncrementalDedup.winnowForget(spark, wbase,
      d.where($"doc_id" > 100).select($"doc_id"))
    val keptDir = Sinks.scratch("spec_winnow_kept")
    d.where($"doc_id" <= 100).write.parquet(s"$keptDir/documents.parquet")
    val truthKept = pairsOf(Dedup.queries("q_llm_winnow_dedup")(spark, keptDir))
    assert(pairsOf(IncrementalDedup.winnowServe(spark, wbase)) === truthKept,
      "forget must equal the one-shot over the kept corpus")
  }

  test("ccTick replay heals a store crashed mid-bucket-swap (persisted remap)") {
    import spark.implicits._
    val ccBase = Sinks.scratch("spec_cc_midswap")
    def labels: Map[Long, Long] =
      spark.read.parquet(s"$ccBase/labels")
        .select($"doc", $"label").as[(Long, Long)].collect().toMap
    IncrementalDedup.ccTick(spark, Seq((1L, 2L), (1L, 5L)).toDF("doc_a", "doc_b"), 0L, ccBase)
    IncrementalDedup.ccTick(spark, Seq((3L, 4L)).toDF("doc_a", "doc_b"), 1L, ccBase)
    // construct the exact crash window of the bridge tick (batchId=2,
    // edge 2-3 merging {1,2,5} and {3,4}): the remap {3 -> 1} was
    // persisted and the per-bucket swap had reached endpoint 3's bucket
    // (doc 3 remapped) but NOT doc 4's (stale label from tick 1) when the
    // driver died
    Seq((3L, 1L)).toDF("label", "canonical")
      .coalesce(1).write.parquet(s"$ccBase/remaps/batch_2")
    Sinks.mergeByKeyBucket(spark, s"$ccBase/labels",
      Seq((3L, 1L)).toDF("doc", "label").withColumn("_tick", lit(2L)),
      "doc", Seq("_tick"))
    assert(labels === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 1L, 4L -> 3L),
      "mixed store: endpoint swapped, non-endpoint stale")
    // replay of the bridge tick: re-deriving from current labels would see
    // la = lb = 1 (both endpoints already canonical) and never heal doc 4;
    // the committed artifact must drive a store-wide remap instead
    IncrementalDedup.ccTick(spark, Seq((2L, 3L)).toDF("doc_a", "doc_b"), 2L, ccBase)
    assert(labels === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 1L, 4L -> 1L),
      "replay after mid-swap crash converges to the one-shot CC")
  }

  test("ccForget replay heals a store crashed between delete and relabel") {
    import spark.implicits._
    val ccBase = Sinks.scratch("spec_cc_forget_crash")
    def labels: Map[Long, Long] =
      spark.read.parquet(s"$ccBase/labels")
        .select($"doc", $"label").as[(Long, Long)].collect().toMap
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    edges.coalesce(1).write.parquet(s"$ccBase/src")
    IncrementalDedup.ccTick(spark, edges, 0L, ccBase)
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // construct the crash window of ccForget(del={2}, tickId=50): the
    // affected-label artifact {1} was persisted and the keyed delete ran,
    // but the driver died before the relabel merge
    Seq(1L).toDF("label").coalesce(1).write.parquet(s"$ccBase/forgets/tick_50")
    Sinks.deleteByKeyBucket(spark, s"$ccBase/labels", Seq(2L).toDF("doc"), "doc")
    assert(labels === Map(1L -> 1L, 3L -> 1L),
      "post-crash store: survivors still labeled by the pre-split component")
    // replay: deriving `affected` from the (already-deleted) doc-2 rows
    // would find nothing; the committed artifact must drive the recompute,
    // splitting the chain into singletons
    IncrementalDedup.ccForget(spark, ccBase, Seq(2L).toDF("doc_id"), 50L)
    assert(labels === Map(1L -> 1L, 3L -> 3L),
      "replay after delete-merge crash recomputes the affected components")
  }

  test("CC forget: deleting a cut vertex splits its component; leaves don't") {
    import spark.implicits._
    val ccBase = Sinks.scratch("spec_cc_forget")
    def labels: Map[Long, Long] =
      spark.read.parquet(s"$ccBase/labels")
        .select($"doc", $"label").as[(Long, Long)].collect().toMap
    // chain 1-2-3 plus leaf 4 on node 1 — all one component
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    edges.coalesce(1).write.parquet(s"$ccBase/src")
    IncrementalDedup.ccTick(spark, edges, 0L, ccBase)
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // deleting leaf 4 must NOT split {1,2,3}
    IncrementalDedup.ccForget(spark, ccBase, Seq(4L).toDF("doc_id"), 100L)
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // deleting cut vertex 2 splits the chain: 1 and 3 become singletons
    IncrementalDedup.ccForget(spark, ccBase, Seq(2L).toDF("doc_id"), 101L)
    assert(labels === Map(1L -> 1L, 3L -> 3L))
  }

  test("ccForget edge read prunes to the affected labels' buckets; results unchanged") {
    import spark.implicits._
    val ccBase = Sinks.scratch("spec_cc_forget_prune")
    def labels: Map[Long, Long] =
      spark.read.parquet(s"$ccBase/labels")
        .select($"doc", $"label").as[(Long, Long)].collect().toMap
    // 8 disjoint 2-node components; labels 1..8 land in 8 distinct
    // edge-log buckets (pmod over the default 16)
    val edges = (1L to 8L).map(k => (k, k + 100L)).toDF("doc_a", "doc_b")
    IncrementalDedup.ccTick(spark, edges, 0L, ccBase)
    assert(Sinks.bucketDirs(s"$ccBase/edges", 0 until 16).size === 8,
      "8 components spread over 8 bucket dirs")
    // deleting doc 103 affects ONLY label 3's component: the subgraph
    // read must list exactly that bucket's directory, none of the other 7
    val buckets = IncrementalDedup.forgetEdgeBuckets(ccBase, Seq(3L).toDF("label"))
    val dirs = Sinks.bucketDirs(s"$ccBase/edges", buckets)
    assert(buckets === Seq(3) && dirs.size === 1 && dirs.head.endsWith("_bucket=3"),
      s"forget must read only the affected bucket, got $dirs")
    IncrementalDedup.ccForget(spark, ccBase, Seq(103L).toDF("doc_id"), 100L)
    assert(labels === (1L to 8L).flatMap(k =>
      if (k == 3L) Seq(3L -> 3L) else Seq(k -> k, (k + 100L) -> k)).toMap,
      "orphaned 3 is a singleton; every other component is untouched")
    // the purged component's edges are gone from the log (a later forget
    // can never resurrect a deleted doc as a label via stale edges)
    assert(Sinks.bucketDirs(s"$ccBase/edges", Seq(3)).isEmpty,
      "the affected bucket's only edge touched the deleted doc -> dropped")
  }
}
