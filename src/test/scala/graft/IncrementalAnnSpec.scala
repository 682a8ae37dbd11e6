package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.IncrementalAnn
import graft.sinks.Sinks
import graft.util.Streams

/** Persisted ANN index maintenance: rebuild equivalence after the
  * re-train tick, crash-resume from the checkpoint, replay idempotence,
  * and stale-centroid serving between re-trains — the four properties
  * that make the entry's oracle (the one-shot IVF SQL) valid. */
class IncrementalAnnSpec extends SparkSpec {

  /** 30 deterministic embeddings-shaped vectors (vec_id, array<float>). */
  private def corpus: DataFrame = {
    import spark.implicits._
    (0 until 30).map { i =>
      val emb = (0 until graft.llm.XHash.EmbDim)
        .map(j => math.sin(i * 13 + j * 7).toFloat).toArray
      (i.toLong, emb)
    }.toDF("vec_id", "embedding")
  }

  /** One-shot truth: the registered IVF entry over the same vectors,
    * via a temp table dir (the exact path the oracle also reads). */
  private def oneShot(dir: String): Array[(Long, Int, Long, Double)] = {
    import spark.implicits._
    graft.llm.Similarity.queries("q_llm_knn_ivf")(spark, dir)
      .as[(Long, Int, Long, Double)].collect()
  }

  test("incremental index equals one-shot across crash-resume, replay, and re-train") {
    import spark.implicits._
    val base = Sinks.scratch("spec_ann")
    val d = corpus.localCheckpoint()
    val tdir = Sinks.scratch("spec_ann_table")
    d.write.parquet(s"$tdir/embeddings.parquet")
    val truth = oneShot(tdir)

    // arrival in 3 files; only the FIRST is present before the "crash"
    def writeSlice(cond: org.apache.spark.sql.Column): Unit =
      d.where(cond).coalesce(1).write.mode("append").parquet(s"$base/src")
    writeSlice($"vec_id" < 10)
    Streams.drain(Streams.ticks(spark, s"$base/src", d.schema), s"$base/ckpt")(
      IncrementalAnn.tick(spark, _, _, base)) // tick 1, then "crash"
    // between re-trains the index SERVES (bootstrap centroids are
    // stale-but-useful): probes return ranked neighbors right away
    assert(IncrementalAnn.serve(spark, base).count() > 0)
    // resume: remaining batches arrive, SAME checkpoint picks up only them
    writeSlice($"vec_id" >= 10 && $"vec_id" < 20)
    writeSlice($"vec_id" >= 20)
    Streams.drain(Streams.ticks(spark, s"$base/src", d.schema), s"$base/ckpt")(
      IncrementalAnn.tick(spark, _, _, base))
    IncrementalAnn.retrain(spark, base)
    val inc = IncrementalAnn.serve(spark, base)
      .as[(Long, Int, Long, Double)].collect()
    assert(inc === truth, "re-trained incremental index must equal one-shot")

    // at-least-once replay: re-folding an already-folded batch against
    // the now-complete index must not change served results (keyed
    // upserts + assignment against the final centroids)
    IncrementalAnn.tick(spark, d.where($"vec_id" < 10), 0L, base)
    val replayed = IncrementalAnn.serve(spark, base)
      .as[(Long, Int, Long, Double)].collect()
    assert(replayed === truth, "replay must be idempotent")

    // crash INSIDE retrain (after cents swap, before assign rebuild):
    // re-running retrain heals — it re-derives everything
    Sinks.truncate(s"$base/assign")
    IncrementalAnn.retrain(spark, base)
    val healed = IncrementalAnn.serve(spark, base)
      .as[(Long, Int, Long, Double)].collect()
    assert(healed === truth, "retrain must be re-runnable after a crash")
  }

  test("LSH band-table store: fold-only maintenance equals one-shot across crash-resume") {
    import spark.implicits._
    val lbase = Sinks.scratch("spec_ann_lsh")
    val d = corpus.localCheckpoint()
    val tdir = Sinks.scratch("spec_ann_lsh_table")
    d.write.parquet(s"$tdir/embeddings.parquet")
    val truth = graft.llm.Similarity.queries("q_llm_knn_lsh")(spark, tdir)
      .as[(Long, Int, Long, Double)].collect()

    def writeSlice(cond: org.apache.spark.sql.Column): Unit =
      d.where(cond).coalesce(1).write.mode("append").parquet(s"$lbase/src")
    writeSlice($"vec_id" < 12)
    Streams.drain(Streams.ticks(spark, s"$lbase/src", d.schema), s"$lbase/ckpt")(
      IncrementalAnn.tickLsh(spark, _, _, lbase)) // then "crash"
    writeSlice($"vec_id" >= 12)
    Streams.drain(Streams.ticks(spark, s"$lbase/src", d.schema), s"$lbase/ckpt")(
      IncrementalAnn.tickLsh(spark, _, _, lbase))
    // NO retrain exists for this index — fold ticks are the whole
    // maintenance surface (plane signatures are corpus-independent)
    val inc = IncrementalAnn.serveLsh(spark, lbase).as[(Long, Int, Long, Double)].collect()
    assert(inc === truth, "band-table store must equal one-shot LSH")
    // replay idempotence
    IncrementalAnn.tickLsh(spark, d.where($"vec_id" < 12), 0L, lbase)
    val replayed = IncrementalAnn.serveLsh(spark, lbase).as[(Long, Int, Long, Double)].collect()
    assert(replayed === truth, "replay must be idempotent")

    // store compaction (the maintenance pass the registered entries run
    // after their fold ticks): strictly fewer parquet files, identical
    // serves, and the forget delete still works on the compacted store
    def parquetFiles(p: String): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try {
        val it = walk.iterator()
        var n = 0
        while (it.hasNext) {
          if (it.next().getFileName.toString.endsWith(".parquet")) n += 1
        }
        n
      } finally walk.close()
    }
    // a replay tick fanned across many shuffle tasks (AQE coalescing off)
    // still rewrites each bucket it touches as one file
    val vecs = s"$lbase/vecs"
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try IncrementalAnn.tickLsh(spark, d.where($"vec_id" < 12).repartition(8), 0L, lbase)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(Sinks.bucketListing(vecs).forall { case (_, dir) => parquetFiles(dir) == 1 })
    // so split every bucket's file in two, as a store written before that
    // rule holds them: the small files compaction exists to fold
    Sinks.bucketListing(vecs).foreach { case (b, dir) =>
      val split = Sinks.scratch(s"spec_ann_lsh_split/$b")
      spark.read.parquet(dir).repartition(2).write.parquet(split)
      graft.util.Fs.listFiles(dir, ".parquet").foreach(graft.util.Fs.delete)
      graft.util.Fs.listFiles(split, ".parquet").foreach { f =>
        graft.util.Fs.move(f, s"$dir/${f.substring(f.lastIndexOf('/') + 1)}")
      }
    }
    assert(IncrementalAnn.serveLsh(spark, lbase).as[(Long, Int, Long, Double)].collect() === truth)
    val filesBefore = parquetFiles(vecs)
    Sinks.compactBuckets(spark, vecs)
    val filesAfter = parquetFiles(vecs)
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    val compacted = IncrementalAnn.serveLsh(spark, lbase).as[(Long, Int, Long, Double)].collect()
    assert(compacted === truth, "compaction must not change serves")
  }

  test("PQ code-table store: re-train equivalence, crash-resume, replay") {
    import spark.implicits._
    val pbase = Sinks.scratch("spec_ann_pq")
    val d = corpus.localCheckpoint()
    val tdir = Sinks.scratch("spec_ann_pq_table")
    d.write.parquet(s"$tdir/embeddings.parquet")
    val truth = graft.llm.Similarity.queries("q_llm_knn_pq")(spark, tdir)
      .as[(Long, Int, Long, Long)].collect()

    def writeSlice(cond: org.apache.spark.sql.Column): Unit =
      d.where(cond).coalesce(1).write.mode("append").parquet(s"$pbase/src")
    writeSlice($"vec_id" < 12)
    Streams.drain(Streams.ticks(spark, s"$pbase/src", d.schema), s"$pbase/ckpt")(
      IncrementalAnn.tickPq(spark, _, _, pbase)) // then "crash"
    // stale-codebook serving between re-trains still answers probes
    assert(IncrementalAnn.servePq(spark, pbase).count() > 0)
    writeSlice($"vec_id" >= 12)
    Streams.drain(Streams.ticks(spark, s"$pbase/src", d.schema), s"$pbase/ckpt")(
      IncrementalAnn.tickPq(spark, _, _, pbase))
    IncrementalAnn.retrainPq(spark, pbase)
    val inc = IncrementalAnn.servePq(spark, pbase)
      .as[(Long, Int, Long, Long)].collect()
    assert(inc === truth, "re-trained PQ store must equal one-shot PQ")
    // replay idempotence against the final codebooks
    IncrementalAnn.tickPq(spark, d.where($"vec_id" < 12), 0L, pbase)
    val replayed = IncrementalAnn.servePq(spark, pbase)
      .as[(Long, Int, Long, Long)].collect()
    assert(replayed === truth, "replay must be idempotent")
    // crash INSIDE retrain (codes store gone): re-running heals
    Sinks.truncate(s"$pbase/codes")
    IncrementalAnn.retrainPq(spark, pbase)
    assert(IncrementalAnn.servePq(spark, pbase)
      .as[(Long, Int, Long, Long)].collect() === truth)
  }

  test("fold tick re-assigns ONLY the batch; re-ingested vectors move cells") {
    import spark.implicits._
    val rbase = Sinks.scratch("spec_ann_reingest")
    IncrementalAnn.tick(spark, corpus, 0L, rbase)
    val before = spark.read.parquet(s"$rbase/assign")
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    // re-ingest vector 5 with vector 25's embedding: its stored cell must
    // become 25's (assignment is content-determined, upsert replaces)
    val moved = corpus.where($"vec_id" === 25L)
      .select(lit(5L).as("vec_id"), $"embedding")
    IncrementalAnn.tick(spark, moved, 1L, rbase)
    val after = spark.read.parquet(s"$rbase/assign")
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    assert(after(5L) === before(25L), "re-ingested vector must land in its content's cell")
    assert(after.filterNot(_._1 == 5L) === before.filterNot(_._1 == 5L),
      "no other assignment may change")
  }
}
