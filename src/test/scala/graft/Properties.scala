package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.GraftKernels
import graft.ingest.EtlConfig

/** Pure-JVM property tests (SURVEY §5.2 item 3). Spark-job-backed
  * properties live in [[SparkProperties]] with a reduced case count. */
object KernelProperties extends Properties("kernels") {

  val asciiText: Gen[String] = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)

  property("charPolyHash == reference fold for arbitrary ASCII strings") =
    forAll(asciiText) { s =>
      val model = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % GraftKernels.P)
      GraftKernels.charPolyHash(s) == model
    }

  property("charPolyHash is prefix-sensitive: h(s+c) derived from h(s)") =
    forAll(asciiText, Gen.choose(32.toChar, 126.toChar)) { (s, c) =>
      val h = GraftKernels.charPolyHash(s)
      GraftKernels.charPolyHash(s + c) == (h * 31 + c.toInt) % GraftKernels.P
    }

  property("valid 5-field crons validate; 4-field never do") = {
    val field = Gen.oneOf(Gen.const("*"), Gen.choose(0, 59).map(_.toString),
      Gen.choose(1, 30).map(n => s"*/$n"),
      Gen.choose(0, 20).flatMap(a => Gen.choose(21, 59).map(b => s"$a-$b")))
    forAll(Gen.listOfN(5, field)) { fs =>
      EtlConfig.cronValid(fs.mkString(" ")) &&
        !EtlConfig.cronValid(fs.take(4).mkString(" "))
    }
  }
}

/** Spark-backed properties: smaller case counts (each case is a job). */
object SparkProperties extends Properties("spark-ops") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSession.spark

  val batch: Gen[List[(Long, Int)]] =
    Gen.listOfN(30, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0, 1000)))

  // native custom-operator as-of join vs the composed built-ins variant on
  // random tables — keys spread across partitions, duplicate left ts, right
  // unique per (key, ts) as the operator contract requires
  private val asofTables: Gen[(List[(Long, Long)], List[(Long, Long, Double)])] = for {
    lefts <- Gen.listOfN(40, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 1000L)))
    rights <- Gen.listOfN(25, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 1000L)))
  } yield (lefts, rights.distinct.map { case (k, t) => (k, t, k * 10000.0 + t) })

  property("native as-of join == composed as-of join on random tables") =
    forAll(asofTables) { case (lefts, rights) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val l = lefts.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
        .toDF("lid", "k", "t")
      val r = rights.map { case (k, t, p) => (k, new java.sql.Timestamp(t * 1000), p) }
        .toDF("rk", "rt", "payload")
      val composed = graft.ops.AsOf
        .asofJoin(l, r, "k", "rk", "t", "rt", Seq("payload"))
        .select(col("lid"), col("asof_payload").as("p"))
      val native = graft.plans.AsOfJoinNative
        .asofJoin(l, r, col("k"), col("rk"), col("t"), col("rt"))
        .select(col("lid"), col("payload").as("p"))
      val a = composed.orderBy("lid").collect().map(x => (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getDouble(1))))
      val b = native.orderBy("lid").collect().map(x => (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getDouble(1))))
      a.sameElements(b)
    }

  // incremental CC (edge batches folded via component contraction) must
  // equal the one-shot fixpoint for ANY edge set and ANY batch split —
  // including splits that bridge previously-separate stored components
  private val ccCase: Gen[(List[(Long, Long)], Int)] = for {
    n <- Gen.choose(1, 20)
    raw <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
    k <- Gen.choose(1, 3)
  } yield (raw.collect { case (a, b) if a != b =>
    (math.min(a, b), math.max(a, b)) }.distinct, k)

  property("incremental CC over any batch split == one-shot CC") =
    forAll(ccCase) { case (edges, k) =>
      edges.isEmpty || {
        import spark.implicits._
        val base = graft.sinks.Sinks.scratch("prop_cc")
        edges.grouped(math.max(1, (edges.size + k - 1) / k)).zipWithIndex
          .foreach { case (b, i) =>
            graft.llm.IncrementalDedup.ccTick(
              spark, b.toDF("doc_a", "doc_b"), i.toLong, base)
          }
        val inc = spark.read.parquet(s"$base/labels")
          .select($"doc", $"label").as[(Long, Long)].collect().toMap
        val one = graft.llm.Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
          .select($"doc_id", $"canonical").as[(Long, Long)].collect().toMap
        inc == one
      }
    }

  property("oriented wedge join == brute-force triangle enumeration") =
    forAll(ccCase) { case (edges, _) =>
      edges.isEmpty || {
        import spark.implicits._
        val es = edges.toSet
        // model: per-node triangle participation by direct enumeration
        val nodes = es.flatMap { case (a, b) => Set(a, b) }.toList.sorted
        val tris = for {
          (i, ai) <- nodes.zipWithIndex; j <- nodes.drop(ai + 1)
          if es((i, j)); k <- nodes.dropWhile(_ <= j)
          if es((i, k)) && es((j, k))
        } yield (i, j, k)
        val model = nodes.map(n =>
          n -> tris.count(t => t._1 == n || t._2 == n || t._3 == n).toLong).toMap
        val got = graft.llm.Graph.trianglesOf(edges.toDF("doc_a", "doc_b"))
          .select($"doc_id", $"n_tri").as[(Long, Long)].collect().toMap
        got == model
      }
    }

  property("upsert is idempotent: applying a batch twice == once") =
    forAll(batch, batch) { (existRows, inRows) =>
      import spark.implicits._
      val existing = existRows.toDF("k", "v")
      val incoming = inRows.toDF("k", "v")
      val once = graft.ingest.CommitEtl.upsert(existing, incoming, "k", Seq("v"))
      val twice = graft.ingest.CommitEtl.upsert(once, incoming, "k", Seq("v"))
      val a = once.orderBy("k", "v").collect().toSeq
      val b = twice.orderBy("k", "v").collect().toSeq
      a == b
    }

  // O5 totality (SURVEY §5.2 item 3): parseCommits implements the paired
  // email/date conditional for EVERY nullability pattern of author/committer
  private case class C(sha: String, aEmail: Option[String], aDate: Option[String],
                       cEmail: Option[String], cDate: Option[String],
                       aAbsent: Boolean, cAbsent: Boolean)
  private val genCommit: Gen[C] = for {
    sha <- Gen.uuid.map(_.toString)
    ae <- Gen.option(Gen.alphaStr.map(_ + "@a"))
    ad <- Gen.option(Gen.choose(1, 28).map(d => f"2024-01-$d%02dT10:00:00"))
    ce <- Gen.option(Gen.alphaStr.map(_ + "@c"))
    cd <- Gen.option(Gen.choose(1, 28).map(d => f"2024-02-$d%02dT10:00:00"))
    aa <- Gen.oneOf(true, false)
    ca <- Gen.oneOf(true, false)
  } yield C(sha, ae, ad, ce, cd, aa, ca)

  property("parseCommits is total and follows the O5 pairing for any nullability pattern") =
    forAll(Gen.listOfN(25, genCommit)) { cs =>
      import org.apache.spark.sql.Row
      val rows = cs.map { c =>
        val author = if (c.aAbsent) null else Row(c.aEmail.orNull, c.aDate.orNull)
        val committer = if (c.cAbsent) null else Row(c.cEmail.orNull, c.cDate.orNull)
        Row(c.sha, Row("m", author, committer))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows), graft.ingest.CommitEtl.rawCommitSchema)
      val got = graft.ingest.CommitEtl.parseCommits(df)
        .select("commit_hash", "commit_ts", "commit_email")
        .collect().map(r => r.getString(0) -> ((Option(r.getTimestamp(1)), Option(r.getString(2))))).toMap
      cs.forall { c =>
        val aDate = if (c.aAbsent) None else c.aDate
        val cDate = if (c.cAbsent) None else c.cDate
        val aEmail = if (c.aAbsent) None else c.aEmail
        val cEmail = if (c.cAbsent) None else c.cEmail
        // the reference's rule (git_etl.ts:85-105): ts = author.date else
        // committer.date; email follows the branch that supplied the date,
        // defaulting to author.email when neither has one
        val expect: (Option[String], Option[String]) =
          if (aDate.isDefined) (aDate, aEmail)
          else if (cDate.isDefined) (cDate, cEmail)
          else (None, aEmail)
        val (gotTs, gotEmail) = got(c.sha)
        gotTs.map(_.toString.replace(' ', 'T').stripSuffix(".0")) == expect._1 &&
          gotEmail == expect._2
      }
    }

  // the UDTF must emit exactly the distinct HOF shingle set for ANY token
  // stream (the unit spec pins a handful of cases; this sweeps shapes:
  // repeats, short docs, empty-ish docs)
  private val genDoc: Gen[List[String]] = Gen.choose(0, 8).flatMap(n =>
    Gen.listOfN(n, Gen.resize(5, Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))))

  // text with arbitrary printable ASCII including runs of spaces — the
  // kernel must reproduce Spark's split(text, ' ') edge cases exactly
  private val genText: Gen[String] =
    Gen.listOf(Gen.frequency(5 -> Gen.choose(33.toChar, 126.toChar), 1 -> Gen.const(' ')))
      .map(_.mkString)

  property("graft_wordhashes == HOF md5 word hashes on arbitrary text") =
    forAll(Gen.listOfN(8, genText)) { texts =>
      import spark.implicits._
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .selectExpr("id",
          s"${graft.llm.XHash.sparkWordHashes("text")} AS n",
          s"${graft.llm.XHash.sparkWordHashesHof("text")} AS h")
        .as[(Long, Seq[Long], Seq[Long])].collect()
      rows.forall { case (_, n, h) => n == h }
    }

  property("graft_shingles == distinct HOF shingles on random token streams") =
    forAll(Gen.listOfN(5, genDoc)) { docs =>
      import spark.implicits._
      import org.apache.spark.sql.functions.expr
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toDF("doc_id", "text")
        .selectExpr("doc_id", s"${graft.llm.XHash.sparkWordHashes("text")} AS wh")
      val viaHof = df.where(expr("size(wh) >= 3"))
        .selectExpr("doc_id", s"explode(array_distinct(${graft.llm.XHash.sparkShingles("wh")})) AS sg")
        .as[(Long, Long)].collect().sorted.toSeq
      val viaGen = df.selectExpr("doc_id", "graft_shingles(wh) AS sg")
        .as[(Long, Long)].collect().sorted.toSeq
      viaGen == viaHof
    }

  // connected components vs a union-find model: attaching the larger root
  // under the smaller keeps every set's root at its minimum element, which
  // is exactly the label connectedComponents must converge to. jumpAfter=2
  // exercises the pointer-jump path on most cases.
  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(20, Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L)))
      .map(_.collect { case (a, b) if a != b => (a min b, a max b) })
      .suchThat(_.nonEmpty)

  property("connectedComponents labels == union-find component minima") =
    forAll(genEdges) { edges =>
      import spark.implicits._
      val got = graft.llm.Dedup
        .connectedComponents(edges.toDF("doc_a", "doc_b"), maxIters = 40, jumpAfter = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.forall(n => got(n) == find(n))
    }

  // the SQL aggregate-HOF EWMA fold (q_ewma_smooth) against a plain Scala
  // fold model on random per-key sequences — seeds from the first element,
  // integer floor division at every step
  // negative cents included so the truncate-toward-zero division semantics
  // (Spark DIV == DuckDB // == Scala /) are actually exercised — Math.floorDiv
  // would silently agree on non-negative input but diverge at e.g. -7/2
  private val ewmaSeqs: Gen[List[(Long, Long)]] =
    Gen.listOfN(40, Gen.zip(Gen.choose(0L, 4L), Gen.choose(-50000L, 50000L)))

  property("SQL EWMA fold == Scala integer fold model per key") =
    forAll(ewmaSeqs) { rows =>
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, count, expr, lit}
      val indexed = rows.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
      val got = indexed.toDF("k", "pos", "cents")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          expr("array_sort(collect_list(struct(pos, cents)))").as("seq"))
        .selectExpr("k",
          "aggregate(slice(seq, 2, CAST(n AS INT) - 1), element_at(seq, 1).cents, " +
            "(acc, x) -> (acc + x.cents) DIV 2) AS e")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val model = indexed.groupBy(_._1).map { case (k, rs) =>
        val vs = rs.sortBy(_._2).map(_._3)
        k -> vs.tail.foldLeft(vs.head)((acc, s) => (acc + s) / 2L) // truncating, matching DIV
      }
      got == model
    }

  property("upsert keeps exactly one row per key, preferring incoming") =
    forAll(batch, batch) { (existRows, inRows) =>
      import spark.implicits._
      val out = graft.ingest.CommitEtl.upsert(
        existRows.toDF("k", "v"), inRows.toDF("k", "v"), "k", Seq("v"))
        .as[(Long, Int)].collect()
      val keys = (existRows ++ inRows).map(_._1).toSet
      val inKeys = inRows.groupBy(_._1)
      out.length == keys.size && out.forall { case (k, v) =>
        inKeys.get(k) match {
          case Some(rows) => v == rows.map(_._2).max // incoming wins; max v tie-break
          case None       => existRows.filter(_._1 == k).map(_._2).max == v
        }
      }
    }
}
