package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{IncrementalRetrieval, Retrieval}
import graft.sinks.Sinks
import graft.util.Streams

/** Persisted BM25 index maintenance: rebuild equivalence after the stats
  * refresh, stale-stats serving between refreshes, replay idempotence,
  * forget propagation through df/avgdl, and compaction-invariance — the
  * properties that make the entries' oracle (the one-shot BM25 SQL)
  * valid. */
class IncrementalRetrievalSpec extends SparkSpec {

  /** 24 deterministic documents over a 19-word vocabulary: enough term
    * overlap for non-trivial rankings, doc_id < QMax are the queries. */
  private def corpus: DataFrame = {
    import spark.implicits._
    (0 until 24).map { i =>
      val words = (0 until 6 + i % 5).map(j => s"w${(i * 7 + j * 3) % 19}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def oneShot(d: DataFrame): Array[(Long, Int, Long, Double)] = {
    import spark.implicits._
    Retrieval.bm25Rank(Retrieval.bm25ScoresOf(d))
      .as[(Long, Int, Long, Double)].collect()
  }

  private def served(base: String): Array[(Long, Int, Long, Double)] = {
    import spark.implicits._
    IncrementalRetrieval.serve(spark, base)
      .as[(Long, Int, Long, Double)].collect()
  }

  test("incremental index equals one-shot across resume, replay, and compaction") {
    import spark.implicits._
    val base = Sinks.scratch("spec_bm25")
    val d = corpus.localCheckpoint()
    val truth = oneShot(d)

    def writeSlice(cond: org.apache.spark.sql.Column): Unit =
      d.where(cond).coalesce(1).write.mode("append").parquet(s"$base/src")

    // arrival in 3 files; only the FIRST is present before the "crash"
    writeSlice($"doc_id" < 10)
    Streams.drain(Streams.ticks(spark, s"$base/src", d.schema), s"$base/ckpt")(
      IncrementalRetrieval.tick(spark, _, _, base))
    // between refreshes the index SERVES: the first refresh snapshots the
    // partial corpus, later arrivals are retrievable against it
    IncrementalRetrieval.refreshStats(spark, base)
    assert(served(base).nonEmpty)
    // resume: remaining batches arrive, SAME checkpoint picks up only them
    writeSlice($"doc_id" >= 10 && $"doc_id" < 18)
    writeSlice($"doc_id" >= 18)
    Streams.drain(Streams.ticks(spark, s"$base/src", d.schema), s"$base/ckpt")(
      IncrementalRetrieval.tick(spark, _, _, base))
    // stale-stats window: new docs are candidates immediately (scored
    // with the tick-1 df snapshot), BEFORE any refresh runs
    assert(IncrementalRetrieval.serve(spark, base)
      .where($"doc_id" >= 10).count() > 0,
      "post-tick documents must be retrievable against stale stats")
    IncrementalRetrieval.refreshStats(spark, base)
    assert(served(base) === truth, "refreshed incremental index must equal one-shot")

    // at-least-once replay: re-folding an already-folded batch must not
    // change served results (a document's postings ride in one keyed row)
    IncrementalRetrieval.tick(spark, d.where($"doc_id" < 10), 0L, base)
    assert(served(base) === truth, "replay must be idempotent")

    // store maintenance: compaction bounds per-bucket file counts and
    // must not change served results
    Sinks.compactBuckets(spark, s"$base/postings")
    assert(served(base) === truth, "compaction must not change results")
  }

  test("forget propagates through postings, df, and avgdl") {
    import spark.implicits._
    val fbase = Sinks.scratch("spec_bm25_forget")
    val d = corpus.localCheckpoint()
    d.coalesce(1).write.parquet(s"$fbase/src")
    Streams.drain(Streams.ticks(spark, s"$fbase/src", d.schema), s"$fbase/ckpt")(
      IncrementalRetrieval.tick(spark, _, _, fbase))
    val del = d.select($"doc_id").where($"doc_id" % 5 === 3 && $"doc_id" >= 8)
    Sinks.deleteByKeyBucket(spark, s"$fbase/postings", del, "doc_id")
    IncrementalRetrieval.refreshStats(spark, fbase)
    val kept = d.where(!($"doc_id" % 5 === 3 && $"doc_id" >= 8))
    assert(IncrementalRetrieval.serve(spark, fbase)
      .as[(Long, Int, Long, Double)].collect() === oneShot(kept),
      "post-forget serve must equal a from-scratch build on the kept corpus")
    // replaying the delete + refresh is idempotent
    Sinks.deleteByKeyBucket(spark, s"$fbase/postings", del, "doc_id")
    IncrementalRetrieval.refreshStats(spark, fbase)
    assert(IncrementalRetrieval.serve(spark, fbase)
      .as[(Long, Int, Long, Double)].collect() === oneShot(kept))
  }

  test("merge-on-read forget: request rewrites zero buckets, mask serves, compaction converges") {
    import spark.implicits._
    val fbase = Sinks.scratch("spec_bm25_mor")
    val d = corpus.localCheckpoint()
    d.coalesce(1).write.parquet(s"$fbase/src")
    Streams.drain(Streams.ticks(spark, s"$fbase/src", d.schema), s"$fbase/ckpt")(
      IncrementalRetrieval.tick(spark, _, _, fbase))
    val store = s"$fbase/postings"
    def bucketListing: Seq[(String, Long)] = {
      val root = java.nio.file.Paths.get(store)
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.toList
        .filter(p => p.toString.endsWith(".parquet") &&
          p.toString.contains("_bucket"))
        .map(p => (root.relativize(p).toString, java.nio.file.Files.size(p)))
        .sortBy(_._1)
      finally st.close()
    }
    val before = bucketListing
    val del = d.select($"doc_id").where($"doc_id" % 5 === 3 && $"doc_id" >= 8)
    Sinks.deleteByKeyMoR(spark, store, del, "doc_id", tag = "spec")
    // the delete REQUEST touched no data bucket (MoR contract)
    assert(bucketListing === before,
      "MoR delete must leave every data-bucket file byte-identical")
    // masked refresh + serve equals a from-scratch build on the kept set
    IncrementalRetrieval.refreshStats(spark, fbase)
    val kept = d.where(!($"doc_id" % 5 === 3 && $"doc_id" >= 8))
    val masked = IncrementalRetrieval.serve(spark, fbase)
      .as[(Long, Int, Long, Double)].collect()
    assert(masked === oneShot(kept),
      "pre-compaction masked serve must equal the kept-corpus build")
    // compaction folds the sidecar in; serving is unchanged and the raw
    // reader (no mask) now agrees too — rows physically gone
    Sinks.compactDeletes(spark, store, "doc_id")
    assert(Sinks.pendingDeleteKeys(spark, store).isEmpty)
    assert(IncrementalRetrieval.serve(spark, fbase)
      .as[(Long, Int, Long, Double)].collect() === masked)
    assert(spark.read.parquet(store)
      .join(del, Seq("doc_id"), "left_semi").count() === 0L)
  }
}
