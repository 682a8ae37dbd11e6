package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftKernels
import graft.llm.XHash

/** Native codegen expressions: value contract vs the SQL higher-order-
  * function forms, null handling, and both evaluation paths. */
class ExpressionsSpec extends SparkSpec {

  test("graft_charhash matches the SQL aggregate(split(...)) fold and the JVM kernel") {
    import spark.implicits._
    val samples = Seq("abc", "", "hello world", "key agg row scan", "a",
      "Brand#12|STANDARD", "0123456789abcdef" * 40)
    val df = samples.toDF("s")
      .selectExpr("s", "graft_charhash(s) AS native",
        s"${XHash.sparkCharHash("s")} AS hof")
      .collect()
    df.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"native != hof for '${r.getString(0).take(20)}'")
      assert(r.getLong(1) === GraftKernels.charPolyHash(r.getString(0)))
    }
    assert(GraftKernels.charPolyHash("abc") === 96354L)
    // null in -> null out
    val n = Seq[Option[String]](None).toDF("s").selectExpr("graft_charhash(s) AS h").collect()
    assert(n(0).isNullAt(0))
  }

  test("literal graft_charhash constant-folds at plan time") {
    val plan = spark.range(1).selectExpr("graft_charhash('abc') AS h")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("96354"), s"expected folded literal in:\n$plan")
  }

  test("graft_wavg ignores rows with a null qty or price (null-safe updates)") {
    import spark.implicits._
    val df = Seq(
      (Some(2.0), Some(10.0)),
      (None: Option[Double], Some(99.0)), // null qty: ignored entirely
      (Some(3.0), None: Option[Double]),  // null price: ignored entirely
      (Some(4.0), Some(20.0)))
      .toDF("q", "p")
    val r = df.selectExpr("graft_wavg(q, p) AS w").collect()(0)
    assert(!r.isNullAt(0), "null inputs must not poison the buffer")
    // (2*10 + 4*20) / (2 + 4)
    assert(math.abs(r.getDouble(0) - (2.0 * 10.0 + 4.0 * 20.0) / 6.0) < 1e-9)
    // all-null group: defined 0.0 (sumQty == 0 branch), never null
    val empty = Seq((None: Option[Double], None: Option[Double])).toDF("q", "p")
      .selectExpr("graft_wavg(q, p) AS w").collect()(0)
    assert(!empty.isNullAt(0) && empty.getDouble(0) === 0.0)
  }

  test("graft_shingles (UDTF) emits exactly the distinct HOF shingle set") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a a a a a a"),   // repeated token -> one distinct shingle
      (3L, "x y"),           // < 3 tokens -> no shingles
      (4L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val base = docs.selectExpr("doc_id", s"${XHash.sparkWordHashes("text")} AS wh")
    val viaHof = base.where(expr("size(wh) >= 3"))
      .selectExpr("doc_id", s"explode(array_distinct(${XHash.sparkShingles("wh")})) AS sg")
      .orderBy("doc_id", "sg").as[(Long, Long)].collect()
    val viaGen = base.selectExpr("doc_id", "graft_shingles(wh) AS sg")
      .orderBy("doc_id", "sg").as[(Long, Long)].collect()
    assert(viaGen === viaHof)
    assert(viaGen.count(_._1 == 2L) === 1, "repeats must dedup to one shingle")
    assert(!viaGen.exists(_._1 == 3L), "short docs generate nothing")
  }

  test("graft_wordhashes matches the HOF md5 form incl. split edge cases") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox", "", " ", "a", "a ", " a", "a  b", // empty/trailing tokens
      "word", "0123 4567 with-punct! and, more.")
    val df = texts.toDF("text")
      .selectExpr("text",
        s"${XHash.sparkWordHashes("text")} AS native",
        s"${XHash.sparkWordHashesHof("text")} AS hof")
      .as[(String, Seq[Long], Seq[Long])].collect()
    df.foreach { case (t, n, h) =>
      assert(n === h, s"wordhash mismatch for '$t'")
    }
  }

  test("graft_simhash matches the explode + per-bit majority-vote model") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a"),                       // single word: every bit = that word's vote
      (3L, "x y"),                     // tie on every bit where the two differ -> 0 vote -> unset
      (4L, "alpha beta gamma alpha"))  // repeats weight the vote
      .toDF("doc_id", "text")
      .selectExpr("doc_id", s"${XHash.sparkWordHashes("text")} AS wh")
    val viaKernel = docs.selectExpr("doc_id", "graft_simhash(wh) AS fp")
      .as[(Long, Long)].collect().sorted.toSeq
    val ex = docs.selectExpr("doc_id", "explode(wh) AS h")
    // the debiased vote: bit j's ±1 comes from the parity of
    // (h·A_j + B_j) mod P, same formula the DuckDB oracle embeds
    val sums = (0 until GraftKernels.SimBits).map(j => expr(
      s"sum((((h * ${GraftKernels.simA(j)} + ${GraftKernels.simB(j)}) " +
        s"% ${GraftKernels.P}) & 1) * 2 - 1)").as(s"s$j"))
    val model = ex.groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .selectExpr("doc_id",
        (0 until GraftKernels.SimBits).map(j => s"CASE WHEN s$j > 0 THEN ${1L << j}L ELSE 0L END")
          .mkString("", " + ", " AS fp"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(viaKernel === model)
    // kernel matches an independent JVM reference of the same vote
    import org.apache.spark.sql.catalyst.util.ArrayData
    def refFp(hs: Seq[Long]): Long = (0 until GraftKernels.SimBits).map { j =>
      val votes = hs.map(h =>
        if (((h * GraftKernels.simA(j) + GraftKernels.simB(j))
          % GraftKernels.P & 1L) == 1L) 1 else -1).sum
      if (votes > 0) 1L << j else 0L
    }.sum
    for (hs <- Seq(Seq(5L), Seq(1L, 2L), Seq(3L, 1L), Seq(7L, 7L, 9L)))
      assert(GraftKernels.simhashFp(ArrayData.toArrayData(hs.toArray)) === refFp(hs))
  }

  test("graft_chunks (UDTF) matches the HOF slice-fold chunk hashes") {
    import spark.implicits._
    // 25 elements at width 10 -> chunks of 10, 10, 5 (ragged tail)
    val wh = Array.tabulate(25)(i => (i * 9973L + 7) % GraftKernels.P)
    val df = Seq(Tuple1(wh)).toDF("wh")
    val viaGen = df.selectExpr("graft_chunks(wh, 10) AS ch").as[Long].collect().toSeq
    val viaHof = df.selectExpr(
        s"""explode(transform(sequence(0, (size(wh) - 1) div 10),
            c -> aggregate(slice(wh, c * 10 + 1, 10), 0L,
                           (a, h) -> (a * 131 + h) % ${GraftKernels.P}))) AS ch""")
      .as[Long].collect().toSeq
    assert(viaGen === viaHof)
    assert(viaGen.length === 3)
    // repeats are KEPT (chunk dedup counts them)
    val rep = Seq(Tuple1(Array.fill(20)(42L))).toDF("wh")
      .selectExpr("graft_chunks(wh, 10) AS ch").as[Long].collect()
    assert(rep.length === 2 && rep(0) === rep(1))
    // non-literal width is rejected
    assertThrows[org.apache.spark.sql.AnalysisException](
      df.selectExpr("graft_chunks(wh, size(wh))").collect())
  }

  test("posexplode(graft_gramhashes) matches explode(sequence)+charhash(substring) exactly") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs on",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",        // max-overlap repeats
      "exactly twenty chars",                   // length == k -> one row
      "nineteen chars only",                    // length == k - 1 -> none
      "κλειδί ψάχνει je länger desto besser αβγ", // non-ASCII codepoints
      "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val k = 20
    val viaGen = df.where(length(col("text")) >= k)
      .selectExpr("doc_id", s"posexplode(graft_gramhashes(text, $k)) AS (i, h)")
      .selectExpr("doc_id", "CAST(i + 1 AS INT) AS p", "h")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val viaSub = df.where(length(col("text")) >= k)
      .selectExpr("doc_id", s"explode(sequence(1, length(text) - ${k - 1})) AS p", "text")
      .selectExpr("doc_id", "p", s"graft_charhash(substring(text, p, $k)) AS h")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(viaGen === viaSub)
    assert(viaGen.nonEmpty)
    // the length == k text contributes exactly one window at p = 1
    assert(viaGen.count(_._1 === 2L) === 1 && viaGen.find(_._1 === 2L).get._2 === 1)
    // interpreted eval path agrees with codegen (same kernel both ways)
    assert(GraftKernels.gramHashes("exactly twenty chars", k).toSeq ===
      Seq(GraftKernels.charPolyHash("exactly twenty chars")))
    assert(GraftKernels.gramHashes("short", k).isEmpty)
    // null text -> null array -> posexplode generates nothing
    assert(Seq[Option[String]](None).toDF("text")
      .selectExpr(s"posexplode(graft_gramhashes(text, $k))").count() === 0L)
    // non-literal width is rejected
    assertThrows[org.apache.spark.sql.AnalysisException](
      df.selectExpr("graft_gramhashes(text, length(text))").collect())
  }

  test("wrong arity is an AnalysisException naming the function, not an IndexOutOfBounds") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_gramhashes('abc')").collect())
    assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), e.getCondition)
    import scala.jdk.CollectionConverters._
    val params = e.getMessageParameters.asScala
    assert(params.get("functionName").exists(_.contains("graft_gramhashes")), params)
    assert(params.get("expectedNum").contains("2") && params.get("actualNum").contains("1"), params)
    assert(e.getMessage.contains("graft_gramhashes"))
    // single-arg and 3-arg entries guard the same way
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_charhash('a', 'b')").collect())
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_nearest_cells(array(1L))").collect())
  }

  test("graft_scaledemb matches the HOF floor-scale form on float arrays") {
    import spark.implicits._
    val emb = Array.tabulate(64)(d => (math.sin(d * 1.7) * 0.9).toFloat)
    val df = Seq(Tuple1(emb)).toDF("embedding")
    val viaKernel = df.selectExpr(s"${XHash.sparkScaledEmb("embedding")} AS se")
      .head.getSeq[Long](0)
    val viaHof = df.selectExpr(s"${XHash.sparkScaledEmbHof("embedding")} AS se")
      .head.getSeq[Long](0)
    assert(viaKernel === viaHof)
    // negative values floor toward -inf, exactly like the SQL form
    assert(viaKernel.exists(_ < 0))
  }

  test("graft_planedots matches the per-plane unrolled dot sums") {
    import spark.implicits._
    val se = Array.tabulate(64)(d => (d * 1337L - 40000L))
    val df = Seq(Tuple1(se)).toDF("se")
    val viaKernel = df.selectExpr("graft_planedots(se) AS dots")
      .head.getSeq[Long](0)
    val model = (0 until XHash.NPlanes).map(p =>
      (0 until XHash.EmbDim).map(d => se(d) * XHash.planeWeight(p, d)).sum)
    assert(viaKernel === model)
    // and the SQL unrolled form (used for the 4-plane ANN buckets) agrees
    val sqlDots = df.selectExpr(
        (0 until 4).map(p => s"${XHash.sparkPlaneDot("se", p)} AS d$p"): _*)
      .head
    (0 until 4).foreach(p => assert(sqlDots.getLong(p) === model(p)))
  }

  test("graft_dot matches the unrolled integer dot product in both eval paths") {
    import spark.implicits._
    val a = Array.tabulate(64)(i => (i * 37 - 1000).toLong)
    val b = Array.tabulate(64)(i => (i * i - 64).toLong)
    val expected = a.zip(b).map { case (x, y) => x * y }.sum
    // codegen path (projection inside a whole-stage pipeline)
    val got = Seq((a, b)).toDF("a", "b").selectExpr("graft_dot(a, b) AS d")
      .where(col("d").isNotNull).as[Long].collect()(0)
    assert(got === expected)
    // interpreted path (eval through a filter that disables codegen is hard
    // to force; the kernel itself is the shared implementation)
    import org.apache.spark.sql.catalyst.util.ArrayData
    assert(GraftKernels.longDot(
      ArrayData.toArrayData(a), ArrayData.toArrayData(b)) === expected)
  }

  test("graft_nearest_cells matches the join-then-rank argmin it replaced") {
    import spark.implicits._
    // deterministic vectors + centroids; reference = brute (dist, cid)
    // sort per vector, exactly the old crossJoin + row_number contract
    val dim = 8
    def vec(seed: Int): Array[Long] =
      Array.tabulate(dim)(j => ((seed * 31 + j * 7) % 101 - 50).toLong)
    val cents = (0 until 5).map(c => (c.toLong, vec(c * 17 + 3)))
    val centRows = cents.map { case (cid, cse) =>
      (cid, cse, cse.map(x => x * x).sum) }
    def expectTop(se: Array[Long], n: Int): Seq[Long] =
      centRows.map { case (cid, cse, cn2) =>
        (cn2 - 2L * se.zip(cse).map { case (a, b) => a * b }.sum, cid)
      }.sorted.take(n).map(_._2)
    val vectors = (0 until 12).map(i => (i.toLong, vec(i)))
    val df = vectors.toDF("vec_id", "se")
      .crossJoin(broadcast(centRows.toDF("cent_id", "cse", "cn2")
        .agg(collect_list(struct(col("cent_id"), col("cse"), col("cn2")))
          .as("_cells"))))
    for (n <- Seq(1, 2, 5, 9)) {
      val got = df.selectExpr("vec_id", s"graft_nearest_cells(se, _cells, $n) AS c")
        .as[(Long, Seq[Long])].collect().toMap
      vectors.foreach { case (id, se) =>
        assert(got(id) === expectTop(se, math.min(n, 5)),
          s"vec $id n=$n: ${got(id)}")
      }
    }
    // interpreted path: the kernel is the shared implementation
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    val packed = new GenericArrayData(centRows.map { case (cid, cse, cn2) =>
      InternalRow(cid, ArrayData.toArrayData(cse), cn2) }.toArray[Any])
    vectors.foreach { case (_, se) =>
      val got = GraftKernels.nearestCells(ArrayData.toArrayData(se), packed, 2)
        .toLongArray().toSeq
      assert(got === expectTop(se, 2))
    }
    // n = 0 and empty centroid list both yield an empty assignment
    assert(GraftKernels.nearestCells(
      ArrayData.toArrayData(vec(1)), packed, 0).numElements() === 0)
    assert(GraftKernels.nearestCells(ArrayData.toArrayData(vec(1)),
      new GenericArrayData(Array.empty[Any]), 2).numElements() === 0)
  }

  test("FuseWordCount rewrites size(split(s,' ')) and preserves exact semantics") {
    import spark.implicits._
    // every segment-shape edge case: empty, leading/trailing/consecutive
    // spaces, only-spaces, no spaces, multi-byte UTF-8 around spaces
    val cases = Seq("", " ", "  ", "a", "a b", "a  b", " a", "a ",
      "a b c d", "héllo wörld", "日本 語 テスト", "tab\tand space")
    val df = cases.toDF("text")
      .selectExpr("text", "size(split(text, ' ')) AS n")
    val expected = cases.map(s => s.count(_ == ' ') + 1)
    assert(df.select($"n").as[Int].collect().toSeq === expected)
    // plan assertion needs a non-literal source (a literal relation is
    // constant-folded away before the shape is visible)
    val scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fused = scan.selectExpr("size(split(text, ' ')) AS n")
    val optimized = fused.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_wordcount"),
      s"expected the fused token counter in the optimized plan:\n$optimized")
    assert(!optimized.contains("split("),
      "the split + size pipeline should be gone after the rewrite")
    // non-matching shapes are untouched: different separator
    val other = scan.selectExpr("size(split(text, ',')) AS n")
    assert(other.queryExecution.optimizedPlan.toString.contains("split("))
    // fused and unfused agree over the corpus (rewrite licensed by proof,
    // checked by measurement)
    import org.apache.spark.sql.functions.sum
    val a = fused.agg(sum($"n")).as[Long].head()
    val b = scan
      .selectExpr("length(text) - length(replace(text, ' ', '')) + 1 AS n")
      .agg(sum($"n")).as[Long].head()
    assert(a === b)
  }
}
