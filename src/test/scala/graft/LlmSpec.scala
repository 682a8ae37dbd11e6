package graft

import org.apache.spark.sql.functions._

import graft.ingest.EtlConfig
import graft.llm.{Multimodal, XHash}

/** LLM-pipeline primitives: cross-engine hash identities, MinHash/SimHash
  * invariants, multimodal decode stub, and config validation (O12). */
class LlmSpec extends SparkSpec {

  private def evalLong(sql: String): Long = {
    import spark.implicits._
    spark.range(1).selectExpr(s"$sql AS v").as[Long].collect()(0)
  }

  test("char hash matches the hand-computed polynomial (and DuckDB's value)") {
    // fold('abc') = ((0*31+97)*31+98)*31+99 = 96354 — verified against
    // DuckDB's list_reduce evaluation of the same formula
    assert(evalLong(XHash.sparkCharHash("'abc'")) === 96354L)
    assert(evalLong(XHash.sparkCharHash("''")) === 0L)
  }

  test("minhash: identical token streams give identical signatures; supersets only lower minima") {
    import spark.implicits._
    val df = Seq(
      ("a", "x y z w q r s t u v"),
      ("b", "x y z w q r s t u v"),          // identical
      ("c", "x y z w q r s t u v extra one")) // superset of a's shingles
      .toDF("id", "text")
      .selectExpr("id", s"${XHash.sparkWordHashes("text")} AS wh")
      .selectExpr("id", s"${XHash.sparkShingles("wh")} AS sh")
      .selectExpr(Seq("id") ++ (0 until XHash.K).map(k => s"${XHash.sparkMinhash("sh", k)} AS m$k"): _*)
    val rows = df.orderBy("id").collect()
    val (a, b, c) = (rows(0), rows(1), rows(2))
    (1 to XHash.K).foreach { i =>
      assert(a.getLong(i) === b.getLong(i), s"sig $i differs for identical docs")
      assert(c.getLong(i) <= a.getLong(i), s"superset raised minimum $i")
    }
  }

  test("simhash-style bit arithmetic is order-independent (hash aggregation)") {
    import spark.implicits._
    val fwd = Seq("alpha beta gamma delta").toDF("text")
    val rev = Seq("delta gamma beta alpha").toDF("text")
    def bits(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val ex = df.selectExpr(s"explode(${XHash.sparkWordHashes("text")}) AS h")
      val aggs = (0 until 8).map(j => expr(s"sum((shiftright(h, $j) & 1) * 2 - 1)").as(s"s$j"))
      ex.agg(aggs.head, aggs.tail: _*).collect()(0).toSeq.map(_.asInstanceOf[Long])
    }
    assert(bits(fwd) === bits(rev))
  }

  test("multimodal PPM decode: real header parse, channel sums, reject arms") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // 2x2 image, raster bytes 10..21: channel sums are position-determined
    val raster = (10 until 22).map(_.toByte).toArray
    val good = "P6\n2 2\n255\n".getBytes("UTF-8") ++ raster
    val in = Seq(
      Multimodal.MediaIn(1L, good),
      Multimodal.MediaIn(2L, "XX\n2 2\n255\n".getBytes("UTF-8") ++ raster),  // bad magic
      Multimodal.MediaIn(3L, good.dropRight(1)),                              // truncated raster
      Multimodal.MediaIn(4L, "P6\n2\n255\n".getBytes("UTF-8") ++ raster),     // missing height
      Multimodal.MediaIn(5L, "P6\n0 0\n255\n".getBytes("UTF-8"))              // legal empty image
    ).toDS()
    val out = Multimodal.decodeBatched(in).collect().sortBy(_.doc_id)
    val g = out(0)
    assert(g.fmt_ok && g.width === Some(2) && g.height === Some(2) &&
      g.maxval === Some(255) && g.n_px === Some(4L))
    // channels: r = bytes 10,13,16,19; g = 11,14,17,20; b = 12,15,18,21
    assert(g.sum_r === Some(58L) && g.sum_g === Some(62L) && g.sum_b === Some(66L))
    assert(!out(1).fmt_ok && out(1).width.isEmpty, "bad magic must reject")
    assert(!out(2).fmt_ok, "truncated raster must reject, not partially decode")
    assert(!out(3).fmt_ok, "malformed header must reject")
    assert(out(4).fmt_ok && out(4).n_px === Some(0L) && out(4).sum_r === Some(0L),
      "zero-pixel image is valid")
  }

  test("connectedComponents: deep chain converges fast once pointer jumping kicks in") {
    import spark.implicits._
    // chain 0-1-...-40: diameter 40, far past the old silent 20-round
    // 1-hop cap. With jumping from round 0, O(log 40) rounds suffice —
    // enforced by the tight maxIters.
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = graft.llm.Dedup
      .connectedComponents(pairs, maxIters = 12, jumpAfter = 0).collect()
    assert(labels.length === 41)
    assert(labels.forall(_.getLong(1) === 0L), "every node must reach label 0")
    // default adaptive path (propagate-only warmup, then jumps) on two
    // components: each keeps its own minimum
    val two = (pairs.as[(Long, Long)].collect().toSeq ++
      Seq((100L, 101L), (101L, 102L))).toDF("doc_a", "doc_b")
    val l2 = graft.llm.Dedup.connectedComponents(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2(102L) === 100L && l2(40L) === 0L)
  }

  test("connectedComponents cost model: deep chain beats its diameter; shallow clique never jumps") {
    import spark.implicits._
    // the q_entity_resolution shape under the DEFAULT jumpAfter (the
    // r16-reverted regime): a 40-deep chain must converge in far fewer
    // rounds than its diameter, with the jump engaged — the deep-graph
    // structural win the r15 verdict required pinned in a spec
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = graft.llm.Dedup.connectedComponents(chain).collect()
    assert(labels.forall(_.getLong(1) === 0L))
    assert(graft.llm.Dedup.lastCcRounds < 20,
      s"jump must beat O(diameter)=40 (took ${graft.llm.Dedup.lastCcRounds})")
    assert(graft.llm.Dedup.lastCcJumpRounds > 0)
    // and the cost-model flip side: a shallow clique (the near-dup family
    // shape) converges before round jumpAfter and never pays the jump join
    val clique = (for (a <- 0L until 6L; b <- (a + 1) until 6L) yield (a, b))
      .toDF("doc_a", "doc_b")
    val cl = graft.llm.Dedup.connectedComponents(clique).collect()
    assert(cl.forall(_.getLong(1) === 0L))
    assert(graft.llm.Dedup.lastCcJumpRounds === 0,
      "shallow graphs must converge before the jump engages")
  }

  test("connectedComponents fails loudly when the iteration cap is hit") {
    import spark.implicits._
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assertThrows[IllegalStateException](
      graft.llm.Dedup.connectedComponents(pairs, maxIters = 2))
  }

  test("stop-shingle cap fires: boilerplate shared by >MaxDf docs drops its pairs") {
    import spark.implicits._
    // 102 identical 3-token docs -> one shingle with df=102 > MaxDf=100:
    // the capped universe is empty, so NO pair verifies (the documented
    // recall cliff, loud in tests; both engines cap identically)
    val n = XHash.MaxDf.toInt + 2
    val big = (1 to n).map(i => (i.toLong, "alpha beta gamma")).toDF("doc_id", "text")
    assert(graft.llm.Dedup.minhashVerifiedPairsOf(big).count() === 0L)
    // the same corpus below the cap verifies every pair (C(5,2) = 10)
    val small = (1 to 5).map(i => (i.toLong, "alpha beta gamma")).toDF("doc_id", "text")
    assert(graft.llm.Dedup.minhashVerifiedPairsOf(small).count() === 10L)
  }

  test("relative df-cap arm: n_corpus DIV ratio lifts the cap past the floor") {
    import spark.implicits._
    // Same 102-doc boilerplate corpus that the absolute floor drops (test
    // above), but with ratio=1 the cap is greatest(100, 102 DIV 1) = 102
    // >= df, so the shingle SURVIVES and every pair verifies: C(102,2).
    // This is the billion-doc recall-cliff fix scaled down to test size.
    val n = XHash.MaxDf.toInt + 2
    val big = (1 to n).map(i => (i.toLong, "alpha beta gamma")).toDF("doc_id", "text")
    val pairs = graft.llm.Dedup.minhashVerifiedPairsOf(big, ratio = 1L)
    assert(pairs.count() === n.toLong * (n - 1) / 2)
    // ratio high enough that N DIV ratio = 0 falls back to the floor:
    // identical to the absolute-cap behavior (0 pairs)
    assert(graft.llm.Dedup.minhashVerifiedPairsOf(big, ratio = 100000L).count() === 0L)
  }

  test("Checkpointer strategies: identical results, reliable/store artifacts on disk") {
    import spark.implicits._
    import graft.util.Checkpointer
    val base = java.nio.file.Files.createTempDirectory("ckpt_spec").toString
    // deep chain — exercises the per-round checkpoint path many times
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def labelsWith(c: Checkpointer): Map[Long, Long] =
      graft.llm.Dedup.connectedComponents(pairs, jumpAfter = 0, ckpt = c)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labelsWith(Checkpointer.Local)
    val reliable = labelsWith(Checkpointer.Reliable(s"$base/reliable"))
    val store = labelsWith(Checkpointer.Store(s"$base/store"))
    assert(local === reliable)
    assert(local === store)
    assert(local.values.forall(_ === 0L))
    // the loss-safe strategies leave real artifacts behind
    def nonEmpty(p: String) = {
      val d = new java.io.File(p)
      d.exists && d.listFiles != null && d.listFiles.nonEmpty
    }
    assert(nonEmpty(s"$base/reliable"), "reliable checkpoint dir is empty")
    assert(nonEmpty(s"$base/store/step_1"), "store step_1 missing")
    // the shared dedup pipeline accepts the same knob end-to-end
    val docs = (1 to 5).map(i => (i.toLong, "alpha beta gamma")).toDF("doc_id", "text")
    val viaStore = graft.llm.Dedup
      .minhashVerifiedPairsOf(docs, ckpt = Checkpointer.Store(s"$base/dedup"))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLocal = graft.llm.Dedup.minhashVerifiedPairsOf(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStore === viaLocal)
    // ...and so do both iterative trainers (k-means + PQ codebooks):
    // deterministic training must land on identical models under any
    // materialization strategy
    val dim = graft.llm.XHash.EmbDim
    val emb = (0 until 20).map { i =>
      (i.toLong, (0 until dim).map(j => math.sin(i * 13 + j * 7).toFloat).toArray)
    }.toDF("vec_id", "embedding")
      .selectExpr("vec_id", s"${graft.llm.XHash.sparkScaledEmb("embedding")} AS se")
    def centsWith(c: Checkpointer): Set[String] =
      graft.llm.Similarity.kmeansCentroids(emb, ckpt = c)
        .selectExpr("cent_id", "CAST(cse AS STRING) AS s")
        .collect().map(r => r.getLong(0) + ":" + r.getString(1)).toSet
    assert(centsWith(Checkpointer.Local)
      === centsWith(Checkpointer.Reliable(s"$base/kmeans")))
    assert(nonEmpty(s"$base/kmeans"), "kmeans reliable checkpoint dir is empty")
    val subDim = dim / graft.llm.Similarity.PqM
    val subs = emb.selectExpr("vec_id",
        s"explode(transform(sequence(0, ${graft.llm.Similarity.PqM - 1}), m -> " +
          s"named_struct('m', m, 'sub', slice(se, m * $subDim + 1, $subDim)))) AS z")
      .selectExpr("vec_id", "z.m AS m", "z.sub AS sub")
    def cbWith(c: Checkpointer): Set[String] =
      graft.llm.Similarity.pqCodebooks(subs, ckpt = c)
        .selectExpr("m", "code", "CAST(cse AS STRING) AS s")
        .collect().map(r => r.getInt(0) + "/" + r.getLong(1) + ":" + r.getString(2)).toSet
    assert(cbWith(Checkpointer.Local)
      === cbWith(Checkpointer.Store(s"$base/pqcb")))
    // ...and the greedy k-center selector: same centers, same radii,
    // under the loss-safe strategy (per-round state survives executor loss)
    def kcWith(c: Checkpointer): Seq[(Int, Long, Long)] =
      graft.llm.Similarity.kcenterCenters(emb.select(col("vec_id"), col("se")),
          k = 5, ckpt = c)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(kcWith(Checkpointer.Local)
      === kcWith(Checkpointer.Store(s"$base/kcenter")))
  }

  test("PII redaction: each pattern class fires on handcrafted dirty text") {
    import spark.implicits._
    import graft.llm.Safety
    val fixtures = Seq(
      ("mail me at bob.smith+x@corp.example.org today", "mail me at <EMAIL> today"),
      ("call 415-555-0123 or 212-555-9876 now", "call <PHONE> or <PHONE> now"),
      ("server at 192.168.1.254 is up", "server at <IP> is up"),
      ("a@b.io and 10.0.0.1 and 800-555-1212", "<EMAIL> and <IP> and <PHONE>"),
      ("nothing sensitive here", "nothing sensitive here"))
    val got = fixtures.map(_._1).toDF("t")
      .selectExpr(s"${Safety.cleanExprSpark("t")} AS c").as[String].collect()
    got.zip(fixtures.map(_._2)).foreach { case (g, e) => assert(g === e) }
  }

  test("decontamination verdicts: eval doc's clone is contaminated, disjoint doc is clean") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.llm.{Dedup, Safety, XHash}
    // doc 0 (id % 97 == 0) is the eval doc; doc 1 is its verbatim clone
    // (ratio 1 -> contaminated); doc 2 shares no trigram (clean)
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val sg = Dedup.shingleStreamOf(d).localCheckpoint()
    val ev = sg.where(col("doc_id") % Safety.EvalMod === 0)
      .select(col("sg")).distinct().withColumn("hit", lit(1L))
    val v = sg.where(col("doc_id") % Safety.EvalMod =!= 0)
      .join(ev, Seq("sg"), "left").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("hit")), lit(0L)).as("h"))
      .selectExpr("doc_id",
        s"CASE WHEN ${Safety.ContamFrac} * h >= n THEN 'contaminated' " +
          "WHEN h > 0 THEN 'flagged' ELSE 'clean' END AS verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(1L) === "contaminated")
    assert(v(2L) === "clean")
  }

  test("repetition verdicts: all three bands fire on handcrafted docs") {
    import spark.implicits._
    import graft.llm.XHash
    // ok: all-distinct words. repetitive: one word is >= half the tokens
    // (word arm, checked first). looping: a 4-word cycle repeated 2.5x +
    // unique tail — 14 tokens / 8 uniq keeps the word arm SILENT
    // (2*6 < 14), while 4 of 12 shingles repeat (5*4 >= 12) -> looping.
    val d = Seq(
      (1L, "p q r s t u v w"),
      (2L, "spam spam spam spam eggs"),
      (3L, "a b c d a b c d a b e f g h")).toDF("doc_id", "text")
    val v = d
      .selectExpr("doc_id", "split(text, ' ') AS t", s"${XHash.sparkWordHashes("text")} AS wh")
      .selectExpr("doc_id", "size(t) AS n_tok", "size(array_distinct(t)) AS n_uniq",
        s"IF(size(wh) >= 3, ${XHash.sparkShingles("wh")}, array()) AS sh")
      .selectExpr("doc_id", "n_tok", "n_uniq", "size(sh) AS n_sh",
        "size(array_distinct(sh)) AS n_sh_uniq")
      .selectExpr("doc_id",
        "CASE WHEN 2 * (n_tok - n_uniq) >= n_tok THEN 'repetitive' " +
          "WHEN n_sh > 0 AND 5 * (n_sh - n_sh_uniq) >= n_sh THEN 'looping' " +
          "ELSE 'ok' END AS verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(1L) === "ok")
    assert(v(2L) === "repetitive")
    assert(v(3L) === "looping")
  }

  test("passage removal: the shared segment is dropped, unique text survives in order") {
    import spark.implicits._
    // docs 1 and 2 share segment [w0..w9] exactly (same 10-word window at
    // index 0); their tails differ. doc 3 is fully unique.
    val shared = (0 until 10).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, s"$shared a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 b1 b2"),
      (2L, s"$shared c1 c2 c3"),
      (3L, "u1 u2 u3 u4 u5")).toDF("doc_id", "text")
    val out = graft.llm.Dedup.passagesOf(d)
      .select($"doc_id", $"n_seg", $"n_kept", $"n_chars_new")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    // doc 1: 3 segments (10+10+2 words), shared one dropped -> 2 kept
    assert(out(0) === ((1L, 3L, 2L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 b1 b2".length)))
    // doc 2: 2 segments, shared dropped -> "c1 c2 c3" survives
    assert(out(1) === ((2L, 2L, 1L, "c1 c2 c3".length)))
    // doc 3: untouched — rebuilt text is the original
    assert(out(2) === ((3L, 1L, 1L, "u1 u2 u3 u4 u5".length)))
    // reconstruction preserves segment ORDER: doc 3's fingerprint equals
    // the charhash of its original text
    val fp3 = graft.llm.Dedup.passagesOf(d).where($"doc_id" === 3L)
      .select($"new_fp").as[Long].head()
    val want = d.sparkSession.range(1)
      .selectExpr(s"${graft.llm.XHash.sparkCharHash("'u1 u2 u3 u4 u5'")} AS h")
      .as[Long].head()
    assert(fp3 === want)
  }

  test("containment: small doc quoted inside a large one flags a_in_b; Jaccard misses it") {
    import spark.implicits._
    // doc 1 = a 10-word article; doc 2 = the same article wrapped in 30
    // words of boilerplate (the aggregator-page shape). All 8 of doc 1's
    // shingles appear in doc 2 -> containment(1->2) = 1.0, but Jaccard is
    // 8/38 ~ 0.21 — below the 0.3 near-dup gate. Doc 3 is unrelated.
    val art = (0 until 10).map(i => s"w$i").mkString(" ")
    val pre = (0 until 15).map(i => s"p$i").mkString(" ")
    val post = (0 until 15).map(i => s"q$i").mkString(" ")
    val d = Seq(
      (1L, art), (2L, s"$pre $art $post"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")).toDF("doc_id", "text")
    val out = graft.llm.Dedup.containmentPairsOf(d)
      .select($"doc_a", $"doc_b", $"cont_a_in_b", $"relation")
      .as[(Long, Long, Double, String)].collect()
    assert(out.length === 1)
    assert(out(0) === ((1L, 2L, 1.0, "a_in_b")))
    // the symmetric Jaccard family (>= 0.5 gate) does NOT pair them
    assert(graft.llm.Dedup.minhashVerifiedPairsOf(d)
      .where($"doc_a" === 1L && $"doc_b" === 2L).count() === 0L)
  }

  test("winnowing: guarantee catches long shared runs; fingerprints compress the stream") {
    import spark.implicits._
    // docs 1/2 share a 12-word run at DIFFERENT offsets (10 shingle
    // positions >= WinnowW) -> guaranteed shared fingerprint and a
    // >= 50%-of-smaller overlap pair; doc 3 is disjoint.
    val run = (0 until 12).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"$run x1 x2 x3"),
      (2L, s"y1 y2 y3 y4 y5 y6 $run"),
      (3L, (0 until 20).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = graft.llm.Dedup.winnowPairsOf(d)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L)))
    // compression: selected fingerprints are a strict subset of the
    // distinct shingle universe (the 2/(w+1) economy, loosely checked)
    val nFp = graft.llm.Dedup.winnowFingerprintsOf(d).count()
    val nSh = graft.llm.Dedup.shingleStreamOf(d).count()
    assert(nFp < nSh)
    // every selected fingerprint IS some window min, so it is drawn from
    // the doc's shingle set: fingerprints ⊆ shingles per doc
    val orphan = graft.llm.Dedup.winnowFingerprintsOf(d).alias("f")
      .join(graft.llm.Dedup.shingleStreamOf(d).alias("s"),
        col("f.doc_id") === col("s.doc_id") && col("f.fh") === col("s.sg"),
        "left_anti")
    assert(orphan.count() === 0L)
  }

  test("winnow kernel matches the windowed-SQL selection row-for-row") {
    import spark.implicits._
    // adversarial shapes: repeated shingles (tie-break to rightmost),
    // exactly w shingles (one window), w-1 (none), long mixed docs,
    // all-identical tokens (every window min equal -> one fingerprint)
    val docs = Seq(
      1L -> (0 until 50).map(i => s"t${i % 7}").mkString(" "),
      2L -> "a b c d e f",            // 4 shingles = WinnowW -> 1 window
      3L -> "a b c d e",              // 3 shingles < WinnowW -> none
      4L -> Seq.fill(30)("same").mkString(" "),
      5L -> (0 until 200).map(i => s"w${(i * 37) % 23}").mkString(" "),
      6L -> "a b") // below the 3-token shingling floor entirely
      .toDF("doc_id", "text")
    val viaKernel = graft.llm.Dedup.winnowFingerprintsOf(docs)
      .as[(Long, Long)].collect().toSeq.sorted
    val viaWindow = graft.llm.Dedup.winnowFingerprintsWindowed(docs)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(viaKernel === viaWindow)
    assert(viaKernel.nonEmpty)
    // doc 2: exactly one full window -> exactly one fingerprint
    assert(viaKernel.count(_._1 == 2L) === 1)
    // doc 3 and 6: no full window / no shingles -> absent
    assert(!viaKernel.exists(r => r._1 == 3L || r._1 == 6L))
    // doc 4: identical shingles everywhere -> a single distinct fp
    assert(viaKernel.count(_._1 == 4L) === 1)
  }

  test("resample interp: gap days lie on the straight line; observed days keep their value") {
    import spark.implicits._
    // one type, observations on day 0 (value 10.0) and day 4 (value 30.0):
    // interpolation fills days 1-3 with 15, 20, 25. The fixture writes the
    // raw events layout (ts = epoch NANOS long, midday so no tz flips the
    // date); absent columns read as nulls under the explicit schema.
    val day0ns = 1704110400L * 1000000000L // 2024-01-01 12:00:00 UTC
    val day4ns = day0ns + 4L * 86400L * 1000000000L
    val ev = Seq((1L, day0ns, "click", 10.0), (2L, day4ns, "click", 30.0))
      .toDF("event_id", "ts", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("interp").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.ops.TimeWindows.queries("q_resample_interp")(spark, dir)
      .select($"day".cast("string"), $"observed", $"interp_value")
      .as[(String, Int, Double)].collect().sortBy(_._1)
    assert(out.map(_._3).toSeq === Seq(10.0, 15.0, 20.0, 25.0, 30.0))
    assert(out.map(_._2).toSeq === Seq(1, 0, 0, 0, 1))
  }

  test("MAD anomaly: twin spikes mask each other for the z-score but not for MAD") {
    import spark.implicits._
    // 8 quiet days (10..80 events) and TWO 1000-event spike days. Twin
    // extreme outliers inflate mean AND stddev enough that every |z|
    // lands under 2 (the masking limit z -> sqrt(n/2 - 1) = 2 at n=10) —
    // the z-score detector flags NOTHING. Median/MAD have a 50% breakdown
    // point, so both spikes still flag.
    val dayNs = 86400L * 1000000000L
    val t0 = 1704110400L * 1000000000L
    val rows = (0 until 10).flatMap { d =>
      val n = if (d >= 8) 1000 else (d + 1) * 10
      (0 until n).map(i => (d * 10000L + i, t0 + d * dayNs, "click", 1.0))
    }
    val dir = java.nio.file.Files.createTempDirectory("mad").toString
    rows.toDF("event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val mad = graft.ops.Analytics.queries("q_anomaly_mad")(spark, dir)
      .select($"n_events", $"median", $"mad", $"is_anomaly")
      .as[(Long, Double, Double, Boolean)].collect()
    // sorted counts 10..80,1000,1000: median (50+60)/2, MAD = 25
    assert(mad.count(_._4) === 2)
    assert(mad.filter(_._1 === 1000L).forall(_._4))
    assert(mad.head._2 === 55.0 && mad.head._3 === 25.0)
    val z = graft.ops.Analytics.queries("q_anomaly_zscore")(spark, dir)
      .select($"n_events", $"is_anomaly").as[(Long, Boolean)].collect()
    // the masking effect: the z-score detector misses BOTH spikes
    assert(z.forall(!_._2))
  }

  test("quality calibrate: retention is uniform per source despite shifted score scales") {
    import spark.implicits._
    // source A: 10 docs of wildly better scores than source B's 10. An
    // absolute threshold would drop all of B; per-source percentile
    // calibration keeps exactly 8/10 of EACH (5*cnt_le > n for cnt_le > 2).
    val good = "the quick brown fox jumps over the lazy dog and runs far " * 3
    val rows =
      (0 until 10).map(i => (i.toLong, "A", good + ("extra" + i + " ") * i)) ++
      (0 until 10).map(i => (100L + i, "B", ("spam " * (3 + i)).trim))
    val dir = java.nio.file.Files.createTempDirectory("calib").toString
    rows.toDF("doc_id", "source", "text").withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.TextAnalysis.queries("q_llm_quality_calibrate")(spark, dir)
      .select($"source", $"verdict").as[(String, String)].collect()
    val kept = out.groupBy(_._1).view.mapValues(_.count(_._2 == "keep")).toMap
    assert(kept === Map("A" -> 8, "B" -> 8))
  }

  test("late audit: ticks after the first count rows older than prior-max minus 1h") {
    import spark.implicits._
    val hourNs = 3600L * 1000000000L
    val t0 = 1704110400L * 1000000000L
    // tick = event_id % 3. tick0 max = t0+10h -> wm(tick1) = t0+9h:
    // event 1 (t0, late), event 4 (t0+12h, kept -> wm(tick2) = t0+11h);
    // tick2: event 2 (t0+10h, late), event 5 (t0+11h, NOT late: ts = wm)
    val rows = Seq(
      (0L, t0 + 10 * hourNs), (3L, t0 + 8 * hourNs),
      (1L, t0), (4L, t0 + 12 * hourNs),
      (2L, t0 + 10 * hourNs), (5L, t0 + 11 * hourNs))
    val dir = java.nio.file.Files.createTempDirectory("late").toString
    rows.map { case (id, ns) => (id, ns, "click", 1.0) }
      .toDF("event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.streaming.StreamOps.queries("stream_late_audit")(spark, dir)
      .select($"tick", $"n_rows", $"n_late", $"n_kept")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((0, 2L, 0L, 2L), (1, 2L, 1L, 1L), (2, 2L, 1L, 1L)))
  }

  test("PQ: identical vectors encode to identical codes; ADC ranks the clone first") {
    import spark.implicits._
    val dim = graft.llm.XHash.EmbDim
    // vec 0 and vec 100 identical; vecs 1..9 pseudo-random noise
    def v(seed: Long): Seq[Float] =
      (0 until dim).map(i => (((seed * 31 + i) * 2654435761L % 1000L) - 500L) / 250.0f)
    val rows = Seq((0L, v(7)), (100L, v(7))) ++ (1L to 9L).map(i => (i, v(i)))
    val se = rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", s"${graft.llm.XHash.sparkScaledEmb("embedding")} AS se")
    val subDim = dim / graft.llm.Similarity.PqM
    val subs = se.selectExpr("vec_id",
        s"explode(transform(sequence(0, ${graft.llm.Similarity.PqM - 1}), m -> " +
          s"named_struct('m', m, 'sub', slice(se, m * $subDim + 1, $subDim)))) AS z")
      .selectExpr("vec_id", "z.m AS m", "z.sub AS sub")
    val cb = graft.llm.Similarity.pqCodebooks(subs)
    val codes = graft.llm.Similarity.pqEncode(subs, cb)
      .select($"vec_id", $"m", $"code").as[(Long, Int, Long)].collect()
    val byVec = codes.groupBy(_._1).map { case (k, a) =>
      k -> a.sortBy(_._2).map(_._3).toSeq }
    assert(byVec(0L) === byVec(100L), "identical vectors must share codes")
    assert(byVec.keySet.size === 11)
    // ADC: vec 0's nearest neighbor by LUT distance must be its clone
    val lut = subs.where($"vec_id" === 0L)
      .join(org.apache.spark.sql.functions.broadcast(cb), Seq("m"))
      .selectExpr("m", "code", "cn2 - 2L * graft_dot(sub, cse) AS d")
    // ADC is code-resolution-limited: any vector sharing all PqM codes
    // with the query ties the clone exactly, so the guaranteed property
    // is minimality, not strict rank-1
    val adcs = graft.llm.Similarity.pqEncode(subs, cb)
      .where($"vec_id" =!= 0L)
      .join(lut, Seq("m", "code"))
      .groupBy($"vec_id").agg(org.apache.spark.sql.functions.sum($"d").as("adc"))
      .select($"vec_id", $"adc").as[(Long, Long)].collect().toMap
    assert(adcs(100L) === adcs.values.min,
      "the exact clone must sit at the minimum ADC distance")
  }

  test("bloom filter: no false negatives; hits imply set bits for every probe") {
    val out = SparkEntry.queries("q_llm_bloom")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getString(3) == "fn"),
      "a Bloom filter can never produce a false negative")
    // every true member must be flagged (same guarantee, other direction)
    assert(out.filter(_.getBoolean(2)).forall(_.getBoolean(1)))
  }

  test("classifier: score is the exact integer sum of bucket weights") {
    import spark.implicits._
    import graft.llm.XHash._
    // independent model: HOF wordhashes + explicit weight formula
    val expected = Seq("alpha beta beta gamma").toDF("text")
      .selectExpr(s"explode(${sparkWordHashesHof("text")}) AS h")
      .selectExpr(s"(((h % 256) * ${A(1)} + ${B(1)}) % $P) % 2001 - 1000 AS w")
      .agg(org.apache.spark.sql.functions.sum("w")).as[Long].collect()(0)
    val kernel = Seq("alpha beta beta gamma").toDF("text")
      .selectExpr(s"explode(${sparkWordHashes("text")}) AS h")
      .selectExpr(s"(((h % 256) * ${A(1)} + ${B(1)}) % $P) % 2001 - 1000 AS w")
      .agg(org.apache.spark.sql.functions.sum("w")).as[Long].collect()(0)
    assert(kernel === expected)
  }

  test("corpus-relative k-means cell count: isqrt(N) fires past the floor") {
    import graft.llm.Similarity
    // isqrt exactness around perfect squares (the ±1 CASE repair), incl.
    // the large-N regime where the double estimate is least trustworthy —
    // evaluated on the formula text itself (what both engines embed)
    for (n <- Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L, 10L, 15L, 16L, 17L, 24L, 25L,
        26L, 288L, 289L, 290L, (1L << 26) * (1L << 26) - 1,
        (1L << 26) * (1L << 26), (1L << 52) - 1)) {
      // reference isqrt: float estimate repaired by the same ±1 walk
      val s0 = math.sqrt(n.toDouble).toLong
      val isq = if (s0 > 0 && s0 * s0 > n) s0 - 1
                else if ((s0 + 1) * (s0 + 1) <= n) s0 + 1 else s0
      val want = math.max(1L, isq)
      assert(evalLong(Similarity.cellsSql(s"${n}L", 1)) === want, s"isqrt($n)")
    }
    // relative arm past the old constant: N=400, floor=2 -> 20 cells > 16;
    // cellCountOf derives N from the corpus row count in-plan
    def cellsFor(n: Long, floor: Int): Long =
      Similarity.cellCountOf(
        spark.range(n).selectExpr("id AS vec_id"), floor)
        .collect()(0).getLong(0)
    assert(cellsFor(400L, 2) === 20L)
    // floor dominates small corpora: N=100, isqrt=10 < floor=16
    assert(cellsFor(100L, 16) === 16L)
    // the relative count propagates through TRAINING, not just the formula:
    // 400 deterministic vectors, floor=2 -> the trained centroid table
    // carries (up to Lloyd cell death) the 20-cell shape
    val dim = XHash.EmbDim
    val se = spark.range(400).selectExpr("id AS vec_id",
      s"transform(sequence(1, $dim), i -> CAST((id * i) % 997 AS BIGINT)) AS se")
    val nCents = Similarity.kmeansCentroids(se, floor = 2)
      .select(col("cent_id")).distinct().count()
    assert(nCents > 16L && nCents <= 20L,
      s"expected the relative arm's 17..20 trained cells, got $nCents")
  }

  test("perceptual media fingerprint: kernel parity; perturbed copies match, unrelated don't") {
    import spark.implicits._
    // parity: the compiled one-pass kernel equals the HOF composition of
    // the shared pieces (byte array -> shingle transform -> graft_simhash)
    // — the same relational decomposition the DuckDB oracle runs
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "ab", "", "aaa", "x")
    val parity = texts.toDF("t")
      .selectExpr("graft_bytesimhash(t) AS k",
        "CASE WHEN length(t) >= 3 THEN graft_simhash(" +
          s"${XHash.sparkShingles("transform(split(t, ''), c -> CAST(ascii(c) AS BIGINT))")}" +
          ") ELSE 0L END AS m")
      .collect()
    parity.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // perceptual property: a byte-perturbed copy (one word edited in a
    // ~180-byte payload) stays within hamming 3 of the original; an
    // unrelated payload does not collide
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu"
    val perturbed = base.replace("november", "nov3mber")
    val other = "completely different payload bytes with nothing shared " +
      "zq zw ze zr zt zy zu zi zo zp qa qs qd qf qg qh qj qk ql qz qx qc"
    val docs = Seq((1L, base), (2L, perturbed), (3L, other)).toDF("doc_id", "text")
    val pairs = graft.llm.Multimodal.mediaNearDupOf(docs)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "byte-perturbed copy must match")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated must not")
  }

  test("BPE trainer: greedy leftmost merges with exact counts (hand-computed)") {
    import spark.implicits._
    val d = Seq((1L, "aaab aaab banana banana banana")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.bpeTrainOf(d)
      .as[(Int, String, String, String, Long)].collect().toSeq
    // r1: (a,n)x6 beats (n,a) on the lexicographic tie; r2: (a,a)x4 from
    // the aaab's — and 'aaa' merges LEFTMOST-greedy to [aa, a] in r3's
    // re-segmentation, which is why (aa,a) counts 2, not 4; r3: the
    // banana's (an,a)x3 wins the 3-way tie on (lhs, rhs)
    assert(got === Seq(
      (1, "a", "n", "an", 6L),
      (2, "a", "a", "aa", 4L),
      (3, "an", "a", "ana", 3L)))
  }

  test("chunk windows: exact window counts at the stride boundaries") {
    import spark.implicits._
    // ChunkW=16, ChunkS=8: expected windows = 1 for n_tok <= 16,
    // then 1 + ceil((n_tok-16)/8)
    def text(n: Int) = (1 to n).map("w" + _).mkString(" ")
    val d = Seq(1L -> text(1), 2L -> text(16), 3L -> text(17),
      4L -> text(24), 5L -> text(25)).toDF("doc_id", "text")
    val got = graft.llm.Curation.chunkWindowsOf(d)
      .groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L))
    // tail window is ragged, never empty
    val tail = graft.llm.Curation.chunkWindowsOf(d)
      .where($"doc_id" === 3L).orderBy($"chunk_idx")
      .select($"n_words").as[Int].collect().toSeq
    assert(tail === Seq(16, 9)) // second window = tokens 9..17
  }

  test("temperature mixture: tau=0.5 compresses shares toward uniform; epochs hit the target") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_mixtemp")
    // 90/10 token split across two sources, identical doc lengths:
    // p = (0.9, 0.1) -> sqrt-normalized q = (0.75, 0.25) exactly
    val words = (1 to 10).map("w" + _).mkString(" ")
    val d = ((0 until 90).map(i => (i.toLong, words, "en", "big")) ++
             (100 until 110).map(i => (i.toLong, words, "en", "small")))
      .toDF("doc_id", "text", "lang", "source")
    d.write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Curation.queries("q_llm_mixture_temperature")(spark, tdir)
      .collect().map(x => x.getString(0) -> x).toMap
    val big = r("big"); val small = r("small")
    assert(math.abs(big.getDouble(4) - 0.75) < 1e-4, "big temp share")
    assert(math.abs(small.getDouble(4) - 0.25) < 1e-4, "small temp share")
    // repetition factors: small upsampled 2.5x, big downsampled to 5/6
    assert(math.abs(small.getDouble(5) - 2.5) < 1e-4)
    assert(math.abs(big.getDouble(5) - 0.833333) < 1e-3)
    // realized epochs: every small doc draws floor(2.5)=2 copies plus a
    // hash-fractional third -> total strictly between the floors
    val so = small.getLong(6)
    assert(so >= 20 && so <= 30, s"small docs_out $so")
    // big source downsamples: 0 or 1 copies per doc, realized near 75
    val bo = big.getLong(6)
    assert(bo >= 50 && bo < 90, s"big docs_out $bo")
    // token accounting is exact: copies x 10 tokens per doc
    assert(small.getLong(7) === so * 10 && big.getLong(7) === bo * 10)
  }

  test("URL canonicalization: every rule fires; variants collide to one canonical") {
    import spark.implicits._
    val d = Seq(0L, 1L, 3L, 843L).map(i => (i, "big", "en"))
      .toDF("doc_id", "source", "lang")
    val got = graft.llm.Curation.urlCanonOf(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // doc 0 synthesizes the maximally-messy variant (HTTPS://WWW., :443,
    // trailing slash, utm_ param, unsorted params, #frag): scheme, www,
    // port, slash, fragment and tracking params all strip; params sort
    assert(got(0L) === ("big0.example.com",
      "big0.example.com/en/page/0?a=0&b=2"))
    // doc 1 is the plain variant — canonicalization is a no-op
    assert(got(1L) === ("big1.example.com", "big1.example.com/en/page/1"))
    // 843 ≡ 3 under every synthesis mod (lcm 840): distinct raw URLs,
    // SAME canonical — the collision URL dedup keys on
    assert(got(3L) === got(843L))
  }

  test("epoch shards: epoch-salted permutation reshuffles; shards partition each epoch") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_epoch")
    val words = (1 to 8).map("w" + _).mkString(" ")
    (0 until 64).map(i => (i.toLong, words, "en", "src"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Curation.queries("q_llm_epoch_shards")(spark, tdir).collect()
    // every epoch partitions all 64 docs across its shards
    val perEpoch = r.groupBy(_.getInt(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    assert(perEpoch === Map(0 -> 64L, 1 -> 64L, 2 -> 64L))
    // the epoch salt actually reshuffles: shard histograms differ across
    // epochs (64 docs over 8 shards — identical histograms would mean
    // the permutation ignored the epoch)
    val hist = (e: Int) => r.filter(_.getInt(0) == e)
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(!(hist(0) == hist(1) && hist(1) == hist(2)))
  }

  test("length buckets: pow2 edges; padding accounting is exact") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_lenbuck")
    def text(n: Int) = (1 to n).map("w" + _).mkString(" ")
    // 16 sits on the first edge; 17 spills to the 32 bucket
    Seq((1L, text(16)), (2L, text(17)), (3L, text(32)), (4L, text(100)))
      .map { case (i, t) => (i, t, "en", "src") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Curation.queries("q_llm_length_buckets")(spark, tdir)
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(16) === ((1L, 16L, 16L)))          // exactly full: zero waste
    assert(r(32) === ((2L, 49L, 64L)))          // docs 17+32 share the 32 bucket
    assert(r(128) === ((1L, 100L, 128L)))
  }

  test("leakage-safe split: every near-dup cluster lands in ONE split") {
    import spark.implicits._
    // corpus with a planted near-dup pair (identical docs) + singletons
    val text = "shared template alpha beta gamma delta epsilon zeta eta theta"
    val d = ((1 to 6).map(i => (i.toLong, s"unrelated totally distinct content x$i y$i z$i q$i r$i s$i t$i u$i"))
      ++ Seq((10L, text), (11L, text))).toDF("doc_id", "text")
    val cc = graft.llm.Dedup.connectedComponents(
      graft.llm.Dedup.minhashVerifiedPairsOf(d).select($"doc_a", $"doc_b"))
    val canon = d.select($"doc_id").join(cc, Seq("doc_id"), "left")
      .select($"doc_id", org.apache.spark.sql.functions.coalesce($"canonical", $"doc_id").as("canonical"))
      .selectExpr("doc_id", "canonical",
        "graft_charhash(concat('split-v1:', CAST(canonical AS STRING))) % 100 AS bucket")
      .selectExpr("doc_id", "canonical",
        "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split")
    val bySplit = canon.as[(Long, Long, String)].collect().toSeq
    val dup = bySplit.filter(r => r._1 == 10L || r._1 == 11L)
    assert(dup.map(_._3).distinct.size === 1, "near-dup pair must share a split")
    assert(dup.forall(_._2 === 10L), "cluster canonical = min id")
  }

  test("exact-substring dedup: shared runs found at ANY offset; islands merge; clean doc is 0") {
    import spark.implicits._
    val run = "the shared duplicated substring" // 31 chars
    val block = "repeated-block-abcdefghij" // 25 chars
    assert(run.length === 31 && block.length === 25)
    val d = Seq(
      (1L, "prefix one %%%% " + run + " tail-one-unique-zzz"),
      (2L, "completely different head " + run + " other-end-qqq"),
      (3L, "nothing here repeats at twenty characters anywhere in this text at all"),
      // intra-doc repeat: two copies separated by >SubK unique chars
      (4L, block + " unique filler between copies " + block),
      // FULLY-REPEATED pair: every position of each doc repeats (the
      // complement-islands sentinel path: zero clean positions)
      (5L, "identical-twin-document-body-aaaa-bbbb-cccc"),
      (6L, "identical-twin-document-body-aaaa-bbbb-cccc"),
      // doc that STARTS and ENDS with the shared run (edge islands:
      // empty edge intervals in the complement algebra)
      (7L, run + " mid-unique-zz-7777 " + run)
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup.substringCoverageOf(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the run is flanked by a space on both sides in docs 1 AND 2, so the
    // shared region is " run " = 33 chars, one island, found at different
    // offsets in the two docs (the alignment-free property)
    assert(out(1L).getAs[Long]("dup_chars") === 33L)
    assert(out(1L).getAs[Long]("n_spans") === 1L)
    assert(out(2L).getAs[Long]("dup_chars") === 33L)
    assert(out(3L).getAs[Long]("dup_chars") === 0L)
    assert(out(3L).getAs[String]("verdict") === "keep")
    // doc 4: both 25-char copies marked (intra-doc repeats count), two
    // islands (gap > SubK), 50/80 chars duplicated => drop
    assert(out(4L).getAs[Long]("dup_chars") === 50L)
    assert(out(4L).getAs[Long]("n_spans") === 2L)
    assert(out(4L).getAs[String]("verdict") === "drop")
    // docs 5/6: every position repeated -> one island covering the doc
    // (the complement plan's sentinel-only path), dup = n_chars => drop
    Seq(5L, 6L).foreach { id =>
      assert(out(id).getAs[Long]("dup_chars") === out(id).getAs[Long]("n_chars"))
      assert(out(id).getAs[Long]("n_spans") === 1L)
      assert(out(id).getAs[String]("verdict") === "drop")
    }
    // doc 7: the shared run opens AND closes the doc (empty edge
    // intervals in the complement algebra); two islands of 31+space
    assert(out(7L).getAs[Long]("n_spans") === 2L)
    assert(out(7L).getAs[Long]("dup_chars") === 64L)
    assert(out(7L).getAs[String]("verdict") === "drop")

    // the occurrence-store plan (forced via a tiny plan-switch budget)
    // produces the IDENTICAL row set. The store merge is the fused
    // single-scan aggregation (r15): clean = the lone occurrence of a
    // count-1 hash, recovered via first() under n = 1 — this fixture
    // exercises every island shape through it (offset runs, intra-doc
    // repeats, fully-repeated twins, edge islands), so the complement
    // islands must reconstruct exactly the windowed islands.
    val single = graft.llm.Dedup.substringCoverageOf(d).collect().toSeq
    val sharded = graft.llm.Dedup
      .substringCoverageOf(d, shardChars = 60L).collect().toSeq
    assert(sharded === single)
  }

  test("exact-substring dedup: duplication-heavy corpus takes the clean (complement) arm, row-identical") {
    import spark.implicits._
    // repeated positions dominate (four identical ~100-char twins) with
    // one small unique doc — the corpus shape the complement emission is
    // optimized for; the store merge must choose the clean arm.
    val body = ("twin-document-body-" * 6).take(100)
    val d = (Seq.tabulate(4)(i => ((i + 1).toLong, body)) :+
      (9L, "only short unique doc here xyz")).toDF("doc_id", "text")
    val single = graft.llm.Dedup.substringCoverageOf(d).collect().toSeq
    val sharded = graft.llm.Dedup
      .substringCoverageOf(d, shardChars = 60L).collect().toSeq
    assert(sharded === single)
    assert(graft.llm.Dedup.lastStoreEmission === "clean",
      "a duplication-heavy corpus must keep the complement (clean) emission")
  }

  test("exact-substring dedup: mostly-unique corpus takes the repeated emission arm, row-identical") {
    import spark.implicits._
    // <5% duplicated chars (VERDICT r14 next-1's done-criterion): every
    // doc is unique text except ONE shared 25-char run between docs 2
    // and 5 — on this shape the clean side is ~the whole gram stream,
    // so the store merge must flip to emitting the repeated sliver.
    val run = "the-one-shared-25char-run" // 25 chars
    assert(run.length === 25)
    // avalanched per-(i,j) chars (Murmur3): a LINEAR j-hash mod 26 is an
    // arithmetic progression -> period-26 strings full of 20-gram
    // repeats; proper mixing leaves no accidental 20-char runs
    val uniq = (1 to 8).map { i =>
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      (0 until 90).map { j =>
        alpha(math.floorMod(
          scala.util.hashing.MurmurHash3.stringHash(i + ":" + j), 26))
      }.mkString
    }
    val d = Seq(
      (1L, "doc one entirely unique " + uniq(0)),
      (2L, uniq(1) + " " + run + " " + uniq(2)),
      (3L, "third unique body " + uniq(3)),
      (4L, uniq(4) + " nothing shared here at all"),
      (5L, run + " opens this doc then " + uniq(5)),
      (6L, uniq(6) + uniq(7))
    ).toDF("doc_id", "text")
    val single = graft.llm.Dedup.substringCoverageOf(d).collect().toSeq
    val sharded = graft.llm.Dedup
      .substringCoverageOf(d, shardChars = 60L).collect().toSeq
    assert(sharded === single)
    assert(graft.llm.Dedup.lastStoreEmission === "repeated",
      "a mostly-unique corpus must flip the store merge to repeated emission")
    // sanity on content: only the sharing pair is implicated
    val byId = single.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(2L).getAs[Long]("dup_chars") > 0L)
    assert(byId(5L).getAs[Long]("dup_chars") > 0L)
    Seq(1L, 3L, 4L, 6L).foreach { id =>
      assert(byId(id).getAs[Long]("dup_chars") === 0L)
      assert(byId(id).getAs[String]("verdict") === "keep")
    }
  }

  test("DSIR selection: target excluded; per-source budget exact; selected prefix dominates") {
    val out = SparkEntry.queries("q_llm_dsir_select")(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getAs[String]("source") == graft.llm.Curation.DsirTarget),
      "the target slice is the sample, never a selection candidate")
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val sel = rows.filter(_.getAs[String]("verdict") == "selected")
      assert(sel.length === rows.length / graft.llm.Curation.DsirKeepFrac.toInt,
        s"$src: selection budget must be exactly floor(n/DsirKeepFrac)")
      if (sel.nonEmpty && sel.length < rows.length) {
        val minSel = sel.map(_.getAs[Double]("logratio")).min
        val maxRej = rows.filter(_.getAs[String]("verdict") == "rejected")
          .map(_.getAs[Double]("logratio")).max
        assert(minSel >= maxRej, s"$src: selected docs must dominate by importance weight")
      }
    }
  }

  test("filter funnel: first-kill attribution; docs_in telescopes") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_funnel")
    val shortWords = (1 to 40).map("w" + _).mkString(" ")          // mean wlen < 4
    val repeated = Seq.fill(40)("alpha").mkString(" ")             // TTR kill
    val noStops = (1 to 40).map("word" + _).mkString(" ")          // no stopwords
    val kept = ((1 to 38).map("word" + _) ++ Seq("the", "a")).mkString(" ")
    Seq(
      (1L, "irgendein deutscher text hier", "de", "src"),          // lang
      (2L, "one two the a five", "en", "src"),                     // length (< 30)
      (3L, shortWords, "en", "src"),                               // wordlen
      (4L, repeated, "en", "src"),                                 // repetition
      (5L, noStops, "en", "src"),                                  // stopwords
      (6L, kept, "en", "src"))                                     // survives
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Curation.queries("q_llm_filter_funnel")(spark, tdir).collect()
    val byStage = r.map(x => x.getAs[String]("stage") ->
      (x.getAs[Long]("docs_in"), x.getAs[Long]("n_docs"))).toMap
    assert(byStage === Map(
      "lang" -> ((6L, 1L)), "length" -> ((5L, 1L)), "wordlen" -> ((4L, 1L)),
      "repetition" -> ((3L, 1L)), "stopwords" -> ((2L, 1L)), "kept" -> ((1L, 1L))))
    // funnel telescopes: docs entering stage k+1 = docs_in(k) - killed(k)
    val ordered = r.sortBy(_.getAs[Long]("stage_ord"))
    ordered.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("docs_in") ===
        a.getAs[Long]("docs_in") - a.getAs[Long]("n_docs"))
    }
  }

  test("output shards: budget-targeted doc-contiguous packing; manifest exact") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_shards")
    val words8 = (1 to 8).map("w" + _).mkString(" ")
    (0 until 200).map(i => (i.toLong, words8, "en", "src"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Curation.queries("q_llm_output_shards")(spark, tdir).collect()
      .map(x => x.getAs[Long]("shard_id") ->
        (x.getAs[Long]("n_docs"), x.getAs[Long]("tokens"))).toMap
    // 200 equal 8-token docs, budget 1000: doc starting at 992 still lands
    // in shard 0 (125 docs = 1000 tokens), remaining 75 in shard 1
    assert(r === Map(0L -> ((125L, 1000L)), 1L -> ((75L, 600L))))
  }

  test("curriculum: corpus-relative band edges; pacing cumsum telescopes") {
    import spark.implicits._
    def corpus(tdir: String, lens: Range): Unit = {
      lens.map(n => (n.toLong, (1 to n).map("w" + _).mkString(" "), "en", "src"))
        .toDF("doc_id", "text", "lang", "source")
        .write.parquet(s"$tdir/documents.parquet")
    }
    val t1 = graft.sinks.Sinks.scratch("spec_curr1")
    corpus(t1, 10 to 49) // width 40 => exact 10-length bands
    val r1 = graft.llm.Curation.queries("q_llm_curriculum")(spark, t1).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(r1.map(_.getAs[Long]("stage")).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(r1.forall(_.getAs[Long]("n_docs") == 10L))
    assert(r1.map(x => (x.getAs[Long]("tok_min"), x.getAs[Long]("tok_max"))).toSeq ===
      Seq((10L, 19L), (20L, 29L), (30L, 39L), (40L, 49L)))
    // pacing schedule telescopes
    assert(r1.map(_.getAs[Long]("tokens")).scanLeft(0L)(_ + _).drop(1).toSeq ===
      r1.map(_.getAs[Long]("cum_tokens")).toSeq)
    // edges are corpus-relative, not hardcoded: shift the distribution
    val t2 = graft.sinks.Sinks.scratch("spec_curr2")
    corpus(t2, 100 to 139)
    val r2 = graft.llm.Curation.queries("q_llm_curriculum")(spark, t2).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(r2.map(x => (x.getAs[Long]("tok_min"), x.getAs[Long]("tok_max"))).toSeq ===
      Seq((100L, 109L), (110L, 119L), (120L, 129L), (130L, 139L)))
  }

  test("mixture reweight: hard domain upweighted, easy clamps to zero excess, shares normalize") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_reweight")
    val common = "the cat sat on the mat and the dog sat on the rug again"
    val docs =
      (0 until 20).map(i => (i.toLong, common, "en", "src0")) ++          // low NLL
      (0 until 20).map(i => (100L + i,                                    // every bigram unique
        (0 until 12).map(j => s"u${i}x$j").mkString(" "), "en", "src1"))
    docs.toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Curation.queries("q_llm_mixture_reweight")(spark, tdir)
      .collect().map(x => x.getAs[String]("source") -> x).toMap
    assert(r.keySet === Set("src0", "src1"))
    assert(r("src0").getAs[Double]("excess") === 0.0,
      "below-average domain must clamp to zero excess")
    assert(r("src1").getAs[Double]("excess") > 0.0)
    // the hard domain's multiplicative update exceeds the easy one's
    val lift = (src: String) =>
      r(src).getAs[Double]("w_new") / r(src).getAs[Double]("w_base")
    assert(lift("src1") > lift("src0"))
    // floor-normalized shares sum to <= 1 and lose at most rounding mass
    val tot = r.values.map(_.getAs[Double]("w_new")).sum
    assert(tot <= 1.0 + 1e-9 && tot > 0.98)
  }

  test("clip dedup: aligned shared frames pair; stop-frames suppressed") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_clip")
    def frame(c: Char) = c.toString * 100
    val stopFrame = frame('s')
    val fixture =
      Seq((1L, frame('x') + frame('y')),      // A: frames x,y
          (2L, frame('x') + frame('z')),      // B: shares x with A
          (3L, frame('p') + frame('q')),      // C: no sharing
          (10L, frame('d') + frame('e')),     // D1 == D2: full dup
          (11L, frame('d') + frame('e'))) ++
      // 60 docs all opening with the same stop-frame (df=60 > cap 50):
      // without the cap these alone would add C(60,2)=1770 pairs
      (100 until 160).map(i => (i.toLong, stopFrame + frame('a') + i.toString))
    fixture.map { case (i, t) => (i, t, "en", "src") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Multimodal.queries("q_llm_media_clip_dedup")(spark, tdir).collect()
    val pairs = r.map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b")) ->
      (x.getAs[Long]("shared_frames"), x.getAs[String]("verdict"))).toMap
    assert(pairs === Map(
      (1L, 2L) -> ((1L, "clip_dup")),   // 1 of min(2,2) frames: 2*1 >= 2
      (10L, 11L) -> ((2L, "clip_dup"))))
  }

  test("source matrix: cross vs intra duplication cells; distinct doc counts") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_srcmatrix")
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten eleven"
    Seq(
      (1L, t1, "en", "srcA"), (2L, t1, "en", "srcB"),   // cross-source dup
      (3L, t2, "en", "srcA"), (4L, t2, "en", "srcA"),   // intra-source dup
      (5L, "totally unrelated words here padding filler tail", "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Dedup.queries("q_llm_dedup_source_matrix")(spark, tdir).collect()
      .map(x => (x.getAs[String]("source_a"), x.getAs[String]("source_b")) ->
        (x.getAs[Long]("n_pairs"), x.getAs[Long]("n_docs"), x.getAs[String]("kind"))).toMap
    assert(r === Map(
      ("srcA", "srcA") -> ((1L, 2L, "intra")),
      ("srcA", "srcB") -> ((1L, 2L, "cross"))))
  }

  test("multi-suite decontamination: per-suite attribution; copies contaminate every owning suite") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_multisuite")
    val ta = "alpha beta gamma delta epsilon zeta eta theta"
    val tb = "one two three four five six seven eight"
    Seq(
      (0L, ta),    // doc 0: eval member of ALL three suites
      (89L, tb),   // eval member of suite_b only (89 % 97 != 0, % 83 != 0)
      (5L, ta),    // train copy of doc 0 -> contaminates every suite
      (11L, tb),   // train copy of doc 89 -> contaminates suite_b only
      (7L, "completely clean and unrelated training text here"))
      .map { case (i, t) => (i, t, "en", "src") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Safety.queries("q_llm_decontaminate_multi")(spark, tdir).collect()
      .map(x => x.getAs[String]("suite") ->
        (x.getAs[Long]("n_docs_hit"), x.getAs[Long]("n_contaminated"),
          x.getAs[Double]("worst_ratio"))).toMap
    assert(r.keySet === Set("suite_a", "suite_b", "suite_c"))
    assert(r("suite_a") === ((1L, 1L, 1.0)))
    assert(r("suite_b") === ((2L, 2L, 1.0)))  // sees both planted copies
    assert(r("suite_c") === ((1L, 1L, 1.0)))
  }

  test("bpe fertility: majority language wins the merges; minority pays more tokens per word") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_fertility")
    // en dominates: merges learn (a,b) then (ab,ab) -> "abab" is 1 token.
    // de's (c,d) only wins round 3 -> "cdcd" stays 2 tokens.
    val docs =
      (0 until 10).map(i => (i.toLong, "abab abab abab", "en", "src")) :+
        ((100L, "cdcd cdcd", "de", "src"))
    docs.toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.TextAnalysis.queries("q_llm_bpe_fertility")(spark, tdir)
      .collect().map(x => x.getAs[String]("lang") ->
        (x.getAs[Double]("tokens_per_word"), x.getAs[Double]("fertility_ratio"))).toMap
    assert(r("en") === ((1.0, 1.0)))
    assert(r("de") === ((2.0, 2.0)), "minority language pays 2x tokens per word")
  }

  test("char entropy: constant doc flags at 0; uniform doc scores ln(n)") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_entropy")
    Seq((1L, "aaaaaaaaaa"), (2L, "abcdefghij"))
      .map { case (i, t) => (i, t, "en", "src") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.TextAnalysis.queries("q_llm_char_entropy")(spark, tdir)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Double]("entropy"), x.getAs[String]("verdict"))).toMap
    assert(r(1L) === ((0.0, "flag")))
    assert(r(2L) === ((2.302585, "ok")))  // ln(10) to 6 decimals
  }

  test("k-center coreset: distinct centers, monotone radius, max-norm seed") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_llm_kcenter_sample")(spark, dir)
      .orderBy(col("round")).collect()
    assert(out.length === graft.llm.Similarity.KCenters)
    val ids = out.map(_.getLong(1))
    assert(ids.distinct.length === ids.length, "a center was picked twice")
    // radius2 is the maximin distance at selection — non-increasing
    val r = out.map(_.getLong(2))
    (3 until r.length).foreach(i =>
      assert(r(i) <= r(i - 1), s"coverage radius grew at round ${i + 1}"))
    // seed = the max-|x|^2 vector (vec_id tie-break)
    val seed = graft.sources.Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", s"${XHash.sparkScaledEmb("embedding")} AS se")
      .selectExpr("vec_id", "graft_dot(se, se) AS n2")
      .orderBy(col("n2").desc, col("vec_id")).limit(1)
      .collect()(0).getLong(0)
    assert(out(0).getLong(1) === seed)
  }

  test("streamed ANN serving equals the one-shot batch IVF entry") {
    val dir = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("q_llm_knn_ivf")(spark, dir)
      .collect().map(_.toSeq).toSet
    val streamed = SparkEntry.queries("stream_llm_ann_serve")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("data card: the ALL rollup is the exact sum/superset of per-source rows") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_llm_data_card")(spark, dir).collect()
    val all = out.find(_.getString(0) == "ALL").get
    val per = out.filter(_.getString(0) != "ALL")
    assert(per.nonEmpty)
    assert(all.getLong(1) === per.map(_.getLong(1)).sum) // n_docs
    assert(all.getLong(2) === per.map(_.getLong(2)).sum) // n_dup_docs (global dup def → additive)
    assert(all.getLong(3) === per.map(_.getLong(3)).sum) // n_tokens
    assert(all.getLong(4) >= per.map(_.getLong(4)).max)  // langs: global >= any source
  }

  test("memorization audit: planted verbatim runs hit their exact span lengths and verdicts") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_memorization")
    // probe ids are multiples of EvalMod (97); all words unique per role
    // so only the planted runs can match
    val c = (1 to 34).map("c" + _)   // 34-token run shared probe0 <-> train1
    val d = (1 to 12).map("d" + _)   // 12-token run shared probe194 <-> train2
    val rows = Seq(
      (0L, ((1 to 10).map("u" + _) ++ c ++ (1 to 10).map("v" + _)).mkString(" ")),
      (97L, (1 to 40).map("q" + _).mkString(" ")), // no overlap with train
      (194L, ((1 to 10).map("e" + _) ++ d ++ (1 to 10).map("f" + _)).mkString(" ")),
      (1L, ((1 to 5).map("x" + _) ++ c ++ (1 to 5).map("y" + _)).mkString(" ")),
      (2L, ((1 to 3).map("z" + _) ++ d ++ (4 to 6).map("z" + _)).mkString(" ")),
      (3L, (1 to 30).map("w" + _).mkString(" ")))
      .map { case (id, t) => (id, t, "en", "src") }
      .toDF("doc_id", "text", "lang", "source")
    rows.write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Safety.queries("q_llm_memorization")(spark, tdir)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.keySet === Set(0L, 97L, 194L), "probe slice only")
    // doc 0: 54 tokens -> 50 grams; the 34-token run yields 30 matched
    // positions fusing into ONE island of span 34 -> extractable
    assert(r(0L).getLong(1) === 50L)
    assert(r(0L).getLong(2) === 30L && r(0L).getLong(3) === 1L)
    assert(r(0L).getLong(4) === 34L && r(0L).getString(5) === "extractable")
    // doc 97: zero overlap
    assert(r(97L).getLong(2) === 0L && r(97L).getLong(4) === 0L)
    assert(r(97L).getString(5) === "none")
    // doc 194: 12-token run -> 8 matched positions, span 12 -> partial
    assert(r(194L).getLong(2) === 8L && r(194L).getLong(4) === 12L)
    assert(r(194L).getString(5) === "partial")
  }

  test("soft dedup: near-dup copies split the ppm mass; singletons keep 1e6") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_softdedup")
    val dup = (1 to 20).map("a" + _).mkString(" ")
    Seq((0L, dup), (1L, dup), (2L, (1 to 20).map("b" + _).mkString(" ")))
      .map { case (id, t) => (id, t, "en", "src") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Dedup.queries("q_llm_soft_dedup")(spark, tdir)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.keySet === Set(0L, 1L, 2L), "every doc reports a weight")
    // identical docs 0,1 form one cluster: size 2, canonical 0, 500000 ppm
    Seq(0L, 1L).foreach { id =>
      assert(r(id).getLong(1) === 0L && r(id).getLong(2) === 2L)
      assert(r(id).getLong(3) === 500000L)
    }
    // the unrelated doc is a singleton at full weight
    assert(r(2L).getLong(1) === 2L && r(2L).getLong(2) === 1L)
    assert(r(2L).getLong(3) === 1000000L)
  }

  test("repeat plan: quality-ordered greedy funds the high-TTR source's second epoch first") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_repeatplan")
    // two sources, 50 tokens/epoch each: budget = 7/4 * 100 = 175 tokens.
    // epoch 1 funds both (cum 50, 100); epoch 2 goes quality-first:
    // hi (TTR 1.0) at cum 150 <= 175 funds, lo (TTR 0.1) at 200 does not.
    val hi = (0 until 5).map(i => (i.toLong, (1 to 10).map(j => s"h${i}w$j").mkString(" "), "en", "hi"))
    val lo = (10 until 15).map(i => (i.toLong, Seq.fill(10)("r").mkString(" "), "en", "lo"))
    (hi ++ lo).toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Curation.queries("q_llm_repeat_plan")(spark, tdir)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("hi").getLong(2) === 50L && r("lo").getLong(2) === 50L)
    assert(math.abs(r("hi").getDouble(3) - 1.0) < 1e-9)
    assert(math.abs(r("lo").getDouble(3) - 0.1) < 1e-9)
    assert(r("hi").getLong(4) === 2L, "high-quality source repeats")
    assert(r("lo").getLong(4) === 1L, "low-quality source does not")
    assert(r("hi").getLong(5) === 100L && r("lo").getLong(5) === 50L)
  }

  test("quality sweep: cut-at-0 keeps everything; keep curves decrease monotonically") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.llm.TextAnalysis.queries("q_llm_quality_sweep")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.length === 10, "one row per score bucket")
    val totalDocs = graft.sources.Tables.load(spark, dir, "documents").count()
    // cutting at bucket 0 keeps the whole corpus
    assert(rows(0).getLong(3) === totalDocs)
    assert(rows(0).getLong(5) === 1000000L, "kept_ppm at cut 0 is 1e6")
    // keep curves are non-increasing in the cut threshold, and per-bucket
    // counts reconcile with the cumulative columns
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) >= b.getLong(3) && a.getLong(4) >= b.getLong(4))
      assert(a.getLong(3) - b.getLong(3) === a.getLong(1), "docs_kept delta = bucket n_docs")
    }
  }

  test("prefix dedup: exact duplicates vs shared-prompt completions classified per group") {
    import spark.implicits._
    val tdir = graft.sinks.Sinks.scratch("spec_prefixdedup")
    // ids 0/40 and 1/41 are congruent mod 40 (and hence mod 8 and 5), so
    // each pair shares a seeded prompt; 0/40 also share the completion
    val same = (1 to 12).map("a" + _).mkString(" ")
    Seq((0L, same), (40L, same),
        (1L, (1 to 12).map("b" + _).mkString(" ")),
        (41L, (1 to 12).map("c" + _).mkString(" ")),
        (2L, (1 to 12).map("d" + _).mkString(" ")))
      .map { case (id, t) => (id, t, "en", "src") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tdir/documents.parquet")
    val r = graft.llm.Dedup.queries("q_llm_dedup_prefix")(spark, tdir)
      .collect().map(x => x.getLong(3) -> x).toMap // keyed by keeper
    assert(r.keySet === Set(0L, 1L), "two shared-prompt groups, singleton excluded")
    assert(r(0L).getLong(1) === 2L && r(0L).getLong(2) === 1L)
    assert(r(0L).getString(4) === "exact_dup")
    assert(r(1L).getLong(1) === 2L && r(1L).getLong(2) === 2L)
    assert(r(1L).getString(4) === "shared_prompt")
  }

  test("EtlConfig (O12): field-level validation") {
    assert(EtlConfig("r", "o").cronSchedule === "*/5 * * * *")
    assertThrows[IllegalArgumentException](EtlConfig("", "o"))
    assertThrows[IllegalArgumentException](EtlConfig("r", ""))
    assertThrows[IllegalArgumentException](EtlConfig("r", "o", cronSchedule = "not a cron"))
    assertThrows[IllegalArgumentException](EtlConfig("r", "o", storePath = "store.sqlite"))
    assert(EtlConfig.cronValid("*/5 * * * *"))
    assert(EtlConfig.cronValid("0 0,12 1-15 * 1-5"))
    assert(!EtlConfig.cronValid("* * * *"))
    assertThrows[IllegalArgumentException](
      EtlConfig.fromMap(Map("repo" -> "r", "owner" -> "o", "clearOnStartup" -> "yes")))
    assert(EtlConfig.fromMap(Map("repo" -> "r", "owner" -> "o", "useAuthToken" -> "true")).useAuthToken)
  }

  test("int8 quantizer arithmetic: hand-computed vector, exact err/dead-zone") {
    import spark.implicits._
    // se = [1e6, -5e5, 2.5e5]: m = 1e6; q = [127, -64, 32];
    // errs = |127·x − q·m| = [0, 5e5, 2.5e5]; mag = 127·1.75e6
    val df = Seq((1L, Seq(1000000L, -500000L, 250000L))).toDF("vec_id", "se")
      .selectExpr("vec_id", "array_max(transform(se, x -> abs(x))) AS m", "se")
      .selectExpr(
        "aggregate(transform(se, x -> abs(127 * x - " +
          "(CASE WHEN x < 0 THEN -1L ELSE 1L END) * " +
          "((abs(x) * 254 + m) DIV (2 * m)) * m)), 0L, (a, b) -> a + b) AS err",
        "aggregate(transform(se, x -> abs(127 * x)), 0L, (a, b) -> a + b) AS mag",
        "size(filter(se, x -> x <> 0 AND (abs(x) * 254 + m) DIV (2 * m) = 0)) " +
          "AS n_dead")
    val r = df.collect()(0)
    assert(r.getLong(0) === 750000L)
    assert(r.getLong(1) === 127L * 1750000L)
    assert(r.getInt(2) === 0)
    assert(750000L * 1000000L / (127L * 1750000L) === 3374L) // the ppm the entry reports
  }

  test("MMR re-rank: K selections per query, all distinct, never the query itself") {
    val out = SparkEntry.queries("q_llm_mmr_rerank")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = out.groupBy(_._1)
    assert(byQ.size === graft.llm.Similarity.MmrQ)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to graft.llm.Similarity.MmrK))
      val picks = rows.map(_._3)
      assert(picks.distinct.length === picks.length, s"duplicate picks for q=$q")
      assert(!picks.contains(q), s"query $q selected itself")
    }
  }
}
