package graft

import java.nio.file.{Files, Paths}

/** The shared-ingest tier (one checkpointed stream folding each arrival
  * batch into all four index families — [[graft.llm.MultiIndex]]) must
  * serve results identical to the four standalone incremental entries,
  * which each run their OWN stream over the same 3 range batches. The
  * oracle gate proves each side equals the one-shot SQL; this spec pins
  * the DIRECT equivalence (multi-store serve == standalone serve, row for
  * row) so a drift in either orchestration shows up as a named pair, not
  * as two unrelated oracle failures.
  */
class MultiIndexSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("shared-ingest stores serve identically to their standalone twins") {
    val pairs = Seq(
      "q_llm_multi_ingest_dedup" -> "q_llm_dedup_incremental",
      "q_llm_multi_ingest_simhash" -> "q_llm_dedup_simhash_incremental",
      "q_llm_multi_ingest_winnow" -> "q_llm_winnow_incremental",
      "q_llm_multi_ingest_bm25" -> "q_llm_bm25_incremental")
    pairs.foreach { case (multi, solo) =>
      val m = SparkEntry.queries(multi)(spark, dir).collect().toSeq
      val s = SparkEntry.queries(solo)(spark, dir).collect().toSeq
      assert(m.nonEmpty, s"$multi returned no rows")
      assert(m == s, s"$multi differs from $solo")
    }
  }

  test("the shared build runs once per (session, sf dir)") {
    val b1 = graft.llm.MultiIndex.ensureBuilt(spark, dir)
    val marker = new java.io.File(s"$b1/_spec_marker")
    assert(marker.createNewFile() || marker.exists())
    // a second ensureBuilt must return the SAME base without rebuilding
    // (a rebuild starts from truncate, which would remove the marker)
    val b2 = graft.llm.MultiIndex.ensureBuilt(spark, dir)
    assert(b1 == b2)
    assert(marker.exists(), "second ensureBuilt rebuilt the stores")
    // another sf dir gets its own build in its own path, and leaves the
    // first dir's stores alone
    val other = Files.createDirectories(Paths.get(graft.sinks.Sinks.scratch("spec_multi_index_sf")))
    Files.copy(Paths.get(s"$dir/documents.parquet"), other.resolve("documents.parquet"))
    val b3 = graft.llm.MultiIndex.ensureBuilt(spark, other.toString)
    assert(b3 != b1)
    assert(marker.exists(), "building a second sf dir truncated the first dir's stores")
    marker.delete()

    // the verified-pairs artifact: the same files on a second use, and a
    // marker beside them survives it
    val files = graft.llm.Dedup.verifiedPairsFullCached(spark, dir).inputFiles.toSeq
    assert(files.nonEmpty)
    val pairsMarker = new java.io.File(new java.net.URI(files.head).getPath).getParentFile.toPath
      .resolve("_spec_marker").toFile
    assert(pairsMarker.createNewFile() || pairsMarker.exists())
    assert(graft.llm.Dedup.verifiedPairsFullCached(spark, dir).inputFiles.toSeq == files)
    assert(pairsMarker.exists(), "second use rebuilt the verified pairs")
    pairsMarker.delete()
  }

  test("a sweep drops every persistent RDD, and the shared pairs still serve") {
    val q = SparkEntry.queries("q_llm_graph_triangles")
    val before = q(spark, dir).collect().toSeq
    assert(before.nonEmpty)
    graft.util.RunCache.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(q(spark, dir).collect().toSeq == before)
  }
}
