package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.sinks.Sinks
import graft.util.Fs

/** Durable sink semantics: atomic overwrite visibility, truncate, and
  * partition-pruned reads of a partitionBy layout (O7/O11, SURVEY §7.4). */
class SinksSpec extends SparkSpec {

  test("scratch: an empty path beneath the run root, even over an earlier call's leftovers") {
    import spark.implicits._
    val first = Sinks.scratch("spec_scratch")
    Seq(1, 2).toDF("v").write.parquet(first)
    // an interrupted publish strands an .old copy and a staging sibling
    Seq(3).toDF("v").write.parquet(Fs.oldOf(first))
    Seq(4).toDF("v").write.parquet(Fs.stagingOf(first))
    val again = Sinks.scratch("spec_scratch")
    assert(again === first)
    Fs.heal(again) // a healing reader must not bring the .old copy back
    Seq(again, Fs.oldOf(again), Fs.stagingOf(again)).foreach(p => assert(!Fs.exists(p), p))
    Seq(5).toDF("v").write.parquet(again) // error-if-exists write: the path is free
    assert(spark.read.parquet(again).as[Int].collect() === Array(5))
    assert(again.startsWith(s"${Sinks.runRoot}/"))
    assert(Sinks.runRoot.startsWith(s"${System.getProperty("user.dir")}/target/qtmp/run-"))
    val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    assert(warehouse.toUri.getPath === s"${Sinks.runRoot}/warehouse")
  }

  test("writeAtomic: reader sees only the last complete snapshot; no stale sidecars") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_atomic")
    Sinks.writeAtomic(Seq((1, "v1"), (2, "v1")).toDF("k", "v"), dest)
    Sinks.writeAtomic(Seq((3, "v2")).toDF("k", "v"), dest)
    val got = spark.read.parquet(dest).as[(Int, String)].collect()
    assert(got === Array((3, "v2")))
    assert(!Files.exists(Paths.get(Fs.stagingOf(dest))))
    assert(!Files.exists(Paths.get(Fs.oldOf(dest))))
  }

  test("writeAtomic heals a crash window between renames (.old present, dest gone)") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_recover")
    Sinks.writeAtomic(Seq((1, "v1")).toDF("k", "v"), dest)
    // simulate a crash AFTER dest->.old but BEFORE staged->dest: the
    // table vanishes and only the .old copy remains
    Files.move(Paths.get(dest), Paths.get(Fs.oldOf(dest)))
    assert(!Files.exists(Paths.get(dest)))
    Fs.heal(dest)
    val healed = spark.read.parquet(dest).as[(Int, String)].collect()
    assert(healed === Array((1, "v1")), "heal must restore the previous snapshot")
    // and writeAtomic itself heals-then-overwrites if heal wasn't called
    Files.move(Paths.get(dest), Paths.get(Fs.oldOf(dest)))
    Sinks.writeAtomic(Seq((2, "v2")).toDF("k", "v"), dest)
    assert(spark.read.parquet(dest).as[(Int, String)].collect() === Array((2, "v2")))
    assert(!Files.exists(Paths.get(Fs.oldOf(dest))))
  }

  test("truncate removes the table (O11)") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_trunc")
    Sinks.writeAtomic(Seq(1, 2, 3).toDF("x"), dest)
    assert(Files.exists(Paths.get(dest)))
    Sinks.truncate(dest)
    assert(!Files.exists(Paths.get(dest)))
  }

  test("mergeByKeyBucket heals a crash inside the bucket swap") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_bucketcrash")
    val initial = (0L to 15L).map(k => (k, 1, "v1")).toDF("k", "ord", "v")
    Sinks.mergeByKeyBucket(spark, dest, initial, "k", Seq("ord"), nBuckets = 4)
    // simulate a crash BETWEEN the two renames of bucket 2's swap: the
    // live dir is gone, only the .old copy remains (dot prefix keeps it
    // invisible to readers)
    Files.move(Paths.get(s"$dest/_bucket=2"), Paths.get(Fs.oldOf(s"$dest/_bucket=2")))
    // a plain reader sees the healthy buckets only — never a torn dir
    assert(spark.read.parquet(dest).count() === 12)
    // the next merge heals first, then applies its batch
    val batch = Seq((1L, 2, "v2")).toDF("k", "ord", "v") // touches bucket 1 only
    Sinks.mergeByKeyBucket(spark, dest, batch, "k", Seq("ord"), nBuckets = 4)
    val got = spark.read.parquet(dest).as[(Long, Int, String, Int)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got.size === 16, "healed store must have all 16 keys back")
    assert(got(1L) === "v2" && got(2L) === "v1" && got(6L) === "v1")
    assert(!Files.exists(Paths.get(Fs.oldOf(s"$dest/_bucket=2"))))
    assert(!Files.exists(Paths.get(s"$dest/_merge_staging")))
  }

  test("compactDeletes heals a stranded bucket before folding its deletes") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_mor_stranded")
    Sinks.mergeByKeyBucket(spark, dest, (0L to 15L).map(k => (k, s"v$k")).toDF("k", "v"),
      "k", Seq("v"), nBuckets = 4)
    // a crash between the two renames of bucket 2's swap strands it in its
    // .old copy, hiding it from a listing of the live buckets
    Files.move(Paths.get(s"$dest/_bucket=2"), Paths.get(Fs.oldOf(s"$dest/_bucket=2")))
    Sinks.deleteByKeyMoR(spark, dest, Seq(6L).toDF("k"), "k", tag = "d1")
    Sinks.compactDeletes(spark, dest, "k")
    Fs.heal(dest)
    val keys = spark.read.parquet(dest).select("k").as[Long].collect().sorted.toSeq
    assert(keys === (0L to 15L).filterNot(_ == 6L),
      "a compaction that reported key 6 deleted must not let a heal bring it back")
  }

  test("mergeByKeyBucket rewrites only touched buckets, preserves the rest") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_bucketmerge")
    // keys 0..15 spread over 4 buckets
    val initial = (0L to 15L).map(k => (k, 1, "v1")).toDF("k", "ord", "v")
    Sinks.mergeByKeyBucket(spark, dest, initial, "k", Seq("ord"), nBuckets = 4)
    // batch touches ONLY bucket 0 (keys 0, 4, 8)
    val batch = Seq((0L, 2, "v2"), (4L, 2, "v2"), (8L, 2, "v2")).toDF("k", "ord", "v")
    Sinks.mergeByKeyBucket(spark, dest, batch, "k", Seq("ord"), nBuckets = 4)
    val got = spark.read.parquet(dest).as[(Long, Int, String, Int)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got.size === 16)
    assert(Seq(0L, 4L, 8L).forall(got(_) == "v2"))   // merged bucket updated
    assert((1L to 15L).filter(_ % 4 != 0).forall(got(_) == "v1")) // others intact
    assert(got(12L) === "v1") // bucket-0 key NOT in batch keeps old value
  }

  test("mergeByKeyBucket's first write collapses duplicate keys like every later merge") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_bucketfirstdup")
    val batch = Seq((1L, 1, "old"), (1L, 2, "new"), (2L, 1, "b")).toDF("k", "ord", "v")
    Sinks.mergeByKeyBucket(spark, dest, batch, "k", Seq("ord"), nBuckets = 4)
    val got = spark.read.parquet(dest).select("k", "ord", "v").as[(Long, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 2, "new"), (2L, 1, "b")),
      "a fresh store must hold one row per key, the highest ord")
  }

  test("compactBuckets coalesces accumulated small files without changing contents") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dest = Sinks.scratch("spec_compact")
    // a merge writes each touched bucket as one file; small files pile up
    // through appends, one file per bucket per tick
    Sinks.initBucketStore(dest, 4, "k", Seq((0L, "")).toDF("k", "v").schema)
    (0 until 4).foreach { g =>
      val batch = (0 until 64).map(i => (i.toLong, s"v${g}_$i")).toDF("k", "v")
        .repartition(8).withColumn("_bucket", pmod(col("k"), lit(4)).cast("int"))
      Sinks.appendBuckets(spark, dest, batch, s"t$g")
    }
    def filesPerBucket: Map[Int, Int] = (0 until 4).map { b =>
      val d = new java.io.File(s"$dest/_bucket=$b")
      b -> Option(d.listFiles).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    }.toMap
    assert(filesPerBucket.values.max > 1, "appends should have left multi-file buckets")
    val before = spark.read.parquet(dest).as[(Long, String, Int)].collect().sortBy(_._1)
    Sinks.compactBuckets(spark, dest)
    assert(filesPerBucket.values.forall(_ == 1),
      s"compaction must leave exactly 1 file per bucket, got $filesPerBucket")
    val after = spark.read.parquet(dest).as[(Long, String, Int)].collect().sortBy(_._1)
    assert(after === before, "compaction must not change contents")
    // second compaction is a no-op on an already-tight store
    Sinks.compactBuckets(spark, dest)
    assert(filesPerBucket.values.forall(_ == 1))
  }

  /** The bucket-file fixture: a 400-row first write into 16 buckets, then
    * a merge touching buckets 1, 5 and 9 (key 5 twice, the higher ord
    * wins; 401 is new), both under `confs`. Both writes arrive spread
    * over more tasks than the store has buckets, and AQE leaves the
    * upsert's shuffle partitions as they are (at scale they are big
    * enough that it would). Returns the store's bucket files after the
    * first write, the store, and its rows' SHA-256 in key order. */
  private def bucketFilesFixture(name: String, confs: Map[String, String]) = {
    import spark.implicits._
    val dest = Sinks.scratch(name)
    def merge(batch: DataFrame) =
      Session.withConfs(spark, confs + ("spark.sql.adaptive.coalescePartitions.enabled" -> "false"))(
        Sinks.mergeByKeyBucket(spark, dest, batch, "k", Seq("ord"), nBuckets = 16))
    merge((0L until 400L).map(k => (k, 1, s"a$k")).toDF("k", "ord", "v").repartition(8))
    val first = (0 until 16).map(b => b -> bucketFiles(dest, b)).toMap
    merge(Seq((1L, 2, "b1"), (5L, 2, "b5"), (5L, 3, "c5"), (9L, 2, "b9"), (21L, 2, "b21"),
      (401L, 2, "b401")).toDF("k", "ord", "v").repartition(4))
    (first, dest, rowDigest(dest))
  }

  private def bucketFiles(dest: String, b: Int): Set[String] =
    Option(new java.io.File(s"$dest/_bucket=$b").listFiles).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet")).toSet

  private def rowDigest(dest: String): String = {
    val rows = spark.read.parquet(dest).select("k", "ord", "v", "_bucket").orderBy("k")
      .collect().mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The fixture's rows as the merge wrote them before it wrote one file
    * per bucket. */
  private val bucketFixtureDigest = "4892eb4e48bfd53e5d77fb6614250898f38ebf43bfea62b34c1c30b883cebdc4"

  test("a merge writes each touched bucket as one file and leaves the other buckets' files alone") {
    val (first, dest, digest) = bucketFilesFixture("spec_bucketfiles", Map.empty)
    assert(first.values.forall(_.size == 1), first)
    val touched = Set(1, 5, 9)
    touched.foreach(b => assert(bucketFiles(dest, b).size === 1 && bucketFiles(dest, b) != first(b), b))
    (0 until 16).filterNot(touched).foreach(b => assert(bucketFiles(dest, b) === first(b), b))
    assert(digest === bucketFixtureDigest)
  }

  test("a merge too large for one file per bucket keeps its key-partitioned tasks") {
    // a minimum AQE partition of one byte makes every rewrite "large"
    val (first, dest, digest) = bucketFilesFixture("spec_bucketfiles_large", Map(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b",
      "spark.sql.shuffle.partitions" -> "8"))
    assert(first.values.map(_.size).max > 1, "the upsert's tasks should each have written a file")
    assert(digest === bucketFixtureDigest)
    Sinks.compactBuckets(spark, dest)
    assert((0 until 16).forall(bucketFiles(dest, _).size == 1))
    assert(rowDigest(dest) === bucketFixtureDigest)
  }

  test("a merge whose batch columns differ from the store's recorded schema fails, naming the path") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_bucketschema")
    Sinks.mergeByKeyBucket(spark, dest, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      "k", Seq("v"), nBuckets = 4)
    // the recorded schema serves the store's reads: same rows, same columns
    assert(Sinks.readStore(spark, dest).schema === spark.read.parquet(dest).schema)
    Seq(Seq((3L, 7)).toDF("k", "v"), Seq((3L, "c", 1)).toDF("k", "v", "w")).foreach { bad =>
      val e = intercept[IllegalArgumentException](Sinks.mergeByKeyBucket(spark, dest, bad,
        "k", Seq("v"), nBuckets = 4))
      assert(e.getMessage.contains(dest), e.getMessage)
    }
    assert(spark.read.parquet(dest).select("k", "v").as[(Long, String)].collect().sorted
      === Array((1L, "a"), (2L, "b")), "a refused merge leaves the store as it was")
  }

  test("readStore heals: a bucket stranded at its .old sibling reads back with no caller heal") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_read_heals")
    Sinks.mergeByKeyBucket(spark, dest, (0L to 15L).map(k => (k, s"v$k")).toDF("k", "v"),
      "k", Seq("v"), nBuckets = 4)
    // a crash between the two renames of bucket 2's swap, as above
    Files.move(Paths.get(s"$dest/_bucket=2"), Paths.get(Fs.oldOf(s"$dest/_bucket=2")))
    assert(Sinks.readStore(spark, dest).select("k").as[Long].collect().sorted === (0L to 15L).toArray)
    assert(Sinks.readStoreIfExists(spark, Sinks.scratch("spec_read_absent")).isEmpty)
  }

  test("readBuckets reads only the named buckets; absent ones read as no rows under the recorded schema") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_read_buckets")
    // keys 0, 1, 2, 4, 5, 6 over 4 buckets: bucket 3 never exists
    Sinks.mergeByKeyBucket(spark, dest, Seq(0L, 1L, 2L, 4L, 5L, 6L).map(k => (k, s"v$k")).toDF("k", "v"),
      "k", Seq("v"), nBuckets = 4)
    val recorded = Sinks.layoutOf(dest).schema
    val got = Sinks.readBuckets(spark, dest, Seq(1, 3)).select("k", "_bucket").as[(Long, Int)]
      .collect().sorted.toSeq
    assert(got === Seq((1L, 1), (5L, 1)))
    Seq(Seq(3), Seq(3, 9), Nil).foreach { absent =>
      val none = Sinks.readBuckets(spark, dest, absent)
      assert(none.schema === recorded && none.count() === 0, absent)
    }
  }

  test("a store deleteByKeyBucket emptied reads as no rows under its recorded schema") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_read_emptied")
    val rows = (0L to 7L).map(k => (k, s"v$k")).toDF("k", "v")
    Sinks.mergeByKeyBucket(spark, dest, rows, "k", Seq("v"), nBuckets = 4)
    Sinks.deleteByKeyBucket(spark, dest, rows.select("k"), "k")
    assert(Sinks.bucketListing(dest).isEmpty, "every emptied bucket is dropped")
    val emptied = Sinks.readStore(spark, dest)
    assert(emptied.schema === Sinks.layoutOf(dest).schema && emptied.count() === 0)
  }

  test("merges use the store's persisted bucket count, not the caller's") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_bucketmeta")
    Sinks.mergeByKeyBucket(spark, dest, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      "k", Seq("v"), nBuckets = 4)
    assert(Sinks.layoutOf(dest).n === 4)
    // caller passes a WRONG count on merge: key 5 would pmod to a
    // different bucket under 7 than under the store's 4 — detection must
    // keep the layout at 4 so the upsert still dedups correctly
    Sinks.mergeByKeyBucket(spark, dest, Seq((1L, "a2"), (5L, "c")).toDF("k", "v"),
      "k", Seq("v"), nBuckets = 7)
    val got = spark.read.parquet(dest).as[(Long, String, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 === "a2", "upsert must replace the stored row")
    assert(got.size === 3)
    assert(got.values.forall { case (_, b) => b >= 0 && b < 4 },
      "every row must live in one of the store's 4 buckets")
    assert(got(5L)._2 === (5L % 4).toInt)
  }

  test("a merge into a bucket store without its layout metadata fails, naming the path") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_nolayout")
    Sinks.mergeByKeyBucket(spark, dest, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      "k", Seq("v"), nBuckets = 4)
    val meta = s"$dest/_graft_layout"
    Files.delete(Paths.get(meta))
    // bucketing by the caller's count instead could put the update of
    // key 5 beside no stored twin; the merge must refuse, not guess
    val e = intercept[IllegalStateException](Sinks.mergeByKeyBucket(spark, dest,
      Seq((1L, "a2"), (5L, "c")).toDF("k", "v"), "k", Seq("v"), nBuckets = 7))
    assert(e.getMessage.contains(meta), e.getMessage)
    assert(spark.read.parquet(dest).select("k", "v").as[(Long, String)].collect().sorted
      === Array((1L, "a"), (2L, "b")), "a refused merge leaves the store as it was")
  }

  test("versioned store: commit/snapshotAt/compactVersions with retention") {
    import spark.implicits._
    val store = Sinks.scratch("spec_versioned")
    assert(Sinks.latestVersion(store).isEmpty)
    assert(Sinks.commitVersion(spark, store,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "k") === 0L)
    assert(Sinks.commitVersion(spark, store,
      Seq((2L, "b2")).toDF("k", "v"), "k") === 1L)
    assert(Sinks.commitVersion(spark, store,
      Seq((1L, "a3"), (4L, "d3")).toDF("k", "v"), "k") === 2L)

    def snap(v: Long): Map[Long, String] =
      Sinks.snapshotAt(spark, store, v, "k")
        .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(snap(0) === Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(snap(1) === Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    assert(snap(2) === Map(1L -> "a3", 2L -> "b2", 3L -> "c", 4L -> "d3"))

    // compaction folds v0+v1 into a base; snapshots at and above the
    // horizon are unchanged, below it becomes an explicit error
    Sinks.compactVersions(spark, store, upTo = 1L, key = "k")
    assert(Files.exists(Paths.get(s"$store/base_v=1")))
    assert(!Files.exists(Paths.get(s"$store/delta_v=0")))
    assert(snap(1) === Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    assert(snap(2) === Map(1L -> "a3", 2L -> "b2", 3L -> "c", 4L -> "d3"))
    intercept[IllegalArgumentException](snap(0))

    // commits continue past compaction; a lingering folded delta (the
    // compaction-crash window: base renamed, delete unfinished) is
    // harmless to reads — winner resolution already supersedes it
    assert(Sinks.commitVersion(spark, store,
      Seq((3L, "c3")).toDF("k", "v"), "k") === 3L)
    Seq((2L, "b0-stale")).toDF("k", "v")
      .withColumn("_v", org.apache.spark.sql.functions.lit(0L))
      .write.parquet(s"$store/delta_v=0")
    assert(snap(3) === Map(1L -> "a3", 2L -> "b2", 3L -> "c3", 4L -> "d3"))
    // the next compaction finishes the cleanup
    Sinks.compactVersions(spark, store, upTo = 2L, key = "k")
    assert(!Files.exists(Paths.get(s"$store/delta_v=0")))
    assert(!Files.exists(Paths.get(s"$store/base_v=1")))
    assert(snap(3) === Map(1L -> "a3", 2L -> "b2", 3L -> "c3", 4L -> "d3"))
  }

  test("versioned store: tombstone deletes, CDC feed, compaction keeps markers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val store = Sinks.scratch("spec_cdc")
    Sinks.commitVersion(spark, store,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "k")          // v0
    Sinks.commitVersion(spark, store,
      Seq((2L, "b1"), (4L, "d1")).toDF("k", "v"), "k")                   // v1
    // delete an original key (3), an in-window insert (4), and an
    // absent key (99) — the last must be a harmless no-op everywhere
    Sinks.commitDeletes(spark, store, Seq(3L, 4L, 99L).toDF("k"), "k")   // v2

    def snap(v: Long): Map[Long, String] =
      Sinks.snapshotAt(spark, store, v, "k")
        .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(snap(1) === Map(1L -> "a", 2L -> "b1", 3L -> "c", 4L -> "d1"))
    assert(snap(2) === Map(1L -> "a", 2L -> "b1"))

    def feed(vFrom: Long, vTo: Long): Set[(String, Long, Option[String])] =
      Sinks.changesBetween(spark, store, vFrom, vTo, "k")
        .select($"change_type", $"k", $"v")
        .as[(String, Long, Option[String])].collect().toSet
    // over (0,2]: 2 updated; 4's insert+delete nets out to nothing; 99
    // never existed; 3 deleted with null payload
    assert(feed(0L, 2L) === Set(("update", 2L, Some("b1")), ("delete", 3L, None)))
    // over (1,2]: both 3 and 4 existed at v1, so both report as deletes
    assert(feed(1L, 2L) === Set(("delete", 3L, None), ("delete", 4L, None)))
    // over (0,1]: pure upsert window — 2 updates, 4 inserts
    assert(feed(0L, 1L) === Set(("update", 2L, Some("b1")), ("insert", 4L, Some("d1"))))

    // compaction folds the tombstones but KEEPS their markers in the base
    Sinks.compactVersions(spark, store, upTo = 2L, key = "k")
    assert(snap(2) === Map(1L -> "a", 2L -> "b1"))
    // resurrection guard: a folded delta lingering from a compaction
    // crash re-offers key 3's old row — the base's marker must win
    Seq((3L, "c-stale")).toDF("k", "v")
      .withColumn("_tombstone", lit(false)).withColumn("_v", lit(0L))
      .write.parquet(s"$store/delta_v=0")
    assert(snap(2) === Map(1L -> "a", 2L -> "b1"),
      "tombstone marker in the base must supersede a lingering folded delta")
    Sinks.deleteRec(s"$store/delta_v=0")

    // delete-then-reinsert: the key comes back and the feed calls it an
    // insert (it was absent in the vFrom snapshot)
    Sinks.commitVersion(spark, store, Seq((3L, "c-back")).toDF("k", "v"), "k") // v3
    assert(snap(3) === Map(1L -> "a", 2L -> "b1", 3L -> "c-back"))
    assert(feed(2L, 3L) === Set(("insert", 3L, Some("c-back"))))
  }

  test("SCD2 apply: one open row per key, closed rows end at the change date, history joins") {
    import spark.implicits._
    val dim = Sinks.queries("q_sink_scd2")(spark, "/root/testdata/sf0.001")
    // exactly one is_current row per key — the invariant every
    // point-in-time join depends on
    val dupCurrent = dim.where($"is_current")
      .groupBy($"c_custkey").count().where($"count" > 1).count()
    assert(dupCurrent === 0L)
    // changed keys carry exactly two versions: old closed at the change
    // date, new open from it — a contiguous validity chain
    val changed = dim.groupBy($"c_custkey").count().where($"count" === 2)
      .select($"c_custkey").collect().map(_.getLong(0))
    assert(changed.nonEmpty && changed.forall(_ % 10 == 3))
    val rows = dim.where($"c_custkey" === changed.head)
      .orderBy($"eff_from").collect()
    assert(rows(0).getDate(3).toString === "2024-06-01" && !rows(0).getBoolean(4))
    assert(rows(1).getDate(2).toString === "2024-06-01" && rows(1).getBoolean(4))
    // brand-new keys exist only as open rows
    val fresh = dim.where($"c_custkey" >= 10000000L)
    assert(fresh.count() > 0 && fresh.where(!$"is_current").count() === 0L)
  }

  test("SCD2 point-in-time join: validity intervals partition time — every order matches once") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val pit = Sinks.queries("q_sink_scd2_pit")(spark, dir)
    val joined = pit.agg(org.apache.spark.sql.functions.sum($"n_orders")).head.getLong(0)
    val total = graft.sources.Tables.load(spark, dir, "orders").count()
    // exactly-one-version semantics: the per-segment counts sum to the
    // full fact table — no order dropped, none double-matched
    assert(joined === total, s"PIT join matched $joined of $total orders")
    // history resolves: pre-change orders land in original segments,
    // post-change orders of moved keys in MOVED_* segments
    val segs = pit.select($"c_mktsegment").as[String].collect().toSet
    assert(segs.exists(_.startsWith("MOVED_")), s"no moved segments in $segs")
  }

  test("quarantine routing: no row lost, corrupt payloads preserved verbatim in the DLQ") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rep = Sinks.queries("q_sink_quarantine")(spark, dir)
    val total = graft.sources.Tables.load(spark, dir, "events").count()
    val routed = rep.agg(org.apache.spark.sql.functions.sum($"n_clean" + $"n_quarantined"))
      .head.getLong(0)
    assert(routed === total, "clean + quarantined must reconcile to the source")
    assert(rep.agg(org.apache.spark.sql.functions.sum($"n_quarantined")).head.getLong(0) > 0)
    // the DLQ store keeps the ORIGINAL broken payload for replay
    val dlq = spark.read.parquet(s"${Sinks.runRoot}/quarantine/dlq")
    assert(dlq.columns.contains("props"))
    assert(dlq.where($"event_id" % 13 =!= 0).count() === 0L,
      "only the corrupted slice routes to the DLQ")
  }

  test("streaming SCD2: per-key validity chains are contiguous, one open row per key") {
    import spark.implicits._
    val dim = graft.streaming.StreamOps.queries("stream_scd2_ticks")(
      spark, "/root/testdata/sf0.001")
    val rows = dim.collect()
    // exactly one open row per key
    val open = rows.filter(_.getBoolean(4))
    assert(open.map(_.getLong(0)).distinct.length === open.length)
    assert(open.length === rows.map(_.getLong(0)).distinct.length)
    // intervals chain: each closed row's eff_to is the next row's eff_from
    rows.groupBy(_.getLong(0)).values.foreach { vs =>
      val chain = vs.sortBy(_.getDate(2).toString)
      chain.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDate(3).toString === b.getDate(2).toString,
            s"gap in key ${a.getLong(0)}")
        case _ => ()
      }
      assert(chain.last.getDate(3).toString === "9999-12-31")
    }
    // multi-version keys exist (a key hit by all three change ticks has 4)
    assert(rows.groupBy(_.getLong(0)).values.map(_.length).max >= 3)
  }

  test("partitionBy layout prunes: partition filter appears in the scan (O7)") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_parts")
    val df = (1 to 100).map(i => (i, if (i % 2 == 0) "even" else "odd")).toDF("x", "par")
    Sinks.writeAtomic(df, dest, partitionCols = Seq("par"))
    // physical layout: one directory per partition value
    assert(Files.exists(Paths.get(s"$dest/par=even")))
    val pruned = spark.read.parquet(dest).where($"par" === "even")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("par"))
    assert(pruned.count() === 50)
  }

  test("appendBuckets: no-read append; replayed tick overwrites its own file, never duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dest = Sinks.scratch("spec_append_store")
    def batch(r: Range) = r.toDF("v")
      .withColumn("_bucket", pmod(col("v"), lit(4)).cast("int"))
    Sinks.initBucketStore(dest, 4, "v", batch(1 to 0).schema)
    Sinks.appendBuckets(spark, dest, batch(1 to 40), "t0")
    Sinks.appendBuckets(spark, dest, batch(41 to 60), "t1")
    assert(spark.read.parquet(dest).select("v").as[Int].collect().sorted
      === (1 to 60).toArray)
    // replay of tick t1 (crash-recovery): same tag -> same per-bucket file
    // names -> overwrite, not duplicate
    Sinks.appendBuckets(spark, dest, batch(41 to 60), "t1")
    assert(spark.read.parquet(dest).select("v").as[Int].collect().sorted
      === (1 to 60).toArray)
    // each bucket dir holds exactly one file per tick (deterministic names)
    val b1 = Paths.get(s"$dest/_bucket=1")
    val files = Files.list(b1)
    val names = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toList.sorted
    } finally files.close()
    assert(names === List("append_t0_0.parquet", "append_t1_0.parquet"),
      s"expected one deterministic file per tick, got $names")
  }

  test("publishSet: readers never see a cross-version mix; republish idempotent") {
    import spark.implicits._
    val dest = Sinks.scratch("spec_multiset")
    def tbls(v: String) = Map(
      "a" -> Seq((1, v)).toDF("k", "v"),
      "b" -> Seq((2, v)).toDF("k", "v"))
    Sinks.publishSet(spark, dest, 1L, tbls("one"))
    // mid-publish crash: v2 data for BOTH tables is on disk, but the
    // manifest was never swapped — readers must stay on the complete v1
    tbls("two").foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$dest/tables/$n/v_2") }
    assert(Sinks.manifestVersion(dest) === 1L)
    assert(Sinks.readSet(spark, dest, "a").as[(Int, String)].head() === ((1, "one")))
    assert(Sinks.readSet(spark, dest, "b").as[(Int, String)].head() === ((2, "one")))
    // completed publish flips both at once; replaying it is a no-op
    Sinks.publishSet(spark, dest, 2L, tbls("two"))
    Sinks.publishSet(spark, dest, 2L, tbls("two"))
    assert(Sinks.manifestVersion(dest) === 2L)
    assert(Sinks.readSet(spark, dest, "a").as[(Int, String)].head() === ((1, "two")))
    assert(Sinks.readSet(spark, dest, "b").as[(Int, String)].head() === ((2, "two")))
    // a DELAYED replay of an OLDER committed version (at-least-once
    // redelivery) must not roll readers back to stale data
    Sinks.publishSet(spark, dest, 1L, tbls("stale"))
    assert(Sinks.manifestVersion(dest) === 2L)
    assert(Sinks.readSet(spark, dest, "a").as[(Int, String)].head() === ((1, "two")))
  }

  test("deleteByKeyBucket honors a bucketCol store's true layout") {
    import spark.implicits._
    val store = Sinks.scratch("spec_fk_delete")
    // keyed by k, physically bucketed by the FK — the join-MV layout
    val rows = Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 20L, "c"), (4L, 30L, "d"))
      .toDF("k", "fk", "v")
    Sinks.mergeByKeyBucket(spark, store, rows, "k", Seq("v"),
      nBuckets = 8, bucketCol = "fk")
    // delete list carries the bucketing column -> pruned path finds the row
    Sinks.deleteByKeyBucket(spark, store, Seq((2L, 10L)).toDF("k", "fk"), "k")
    assert(spark.read.parquet(store).select("k").as[Long].collect().sorted
      === Seq(1L, 3L, 4L))
    // delete list WITHOUT fk -> unpruned fallback must still delete (a
    // pmod(k) bucket guess would read the wrong buckets and drop nothing)
    Sinks.deleteByKeyBucket(spark, store, Seq(3L).toDF("k"), "k")
    assert(spark.read.parquet(store).select("k").as[Long].collect().sorted
      === Seq(1L, 4L))
    // a later merge that OMITS bucketCol must still bucket by the store's
    // persisted layout column — an update to k=1 (fk=10) lands beside its
    // stored twin and upserts it, never strands a stale copy
    Sinks.mergeByKeyBucket(spark, store,
      Seq((1L, 10L, "a2")).toDF("k", "fk", "v"), "k", Seq("v"))
    val after = spark.read.parquet(store)
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(after.toSeq === Seq((1L, "a2"), (4L, "d")),
      "update must replace the twin in the fk bucket, not duplicate k=1")
  }

  test("deleteByKeyMoR: zero data-bucket rewrites; compaction converges to the CoW result") {
    import spark.implicits._
    val mor = Sinks.scratch("spec_mor_store")
    val cow = Sinks.scratch("spec_cow_store")
    val rows = (0L until 64L).map(k => (k, s"v$k")).toDF("k", "v")
    Sinks.mergeByKeyBucket(spark, mor, rows, "k", Seq("v"), nBuckets = 8)
    Sinks.mergeByKeyBucket(spark, cow, rows, "k", Seq("v"), nBuckets = 8)
    def dataFiles(dest: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(dest)
      Option(d.listFiles).getOrElse(Array.empty)
        .filter(_.getName.startsWith("_bucket="))
        .flatMap(b => Option(b.listFiles).getOrElse(Array.empty).toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => s"${b.getName}/${f.getName}" -> (f.length, f.lastModified)))
        .toMap
    }
    val before = dataFiles(mor)
    val delKeys = (0L until 64L).filter(_ % 10 == 3)
    Sinks.deleteByKeyMoR(spark, mor, delKeys.toDF("k"), "k", tag = "d1")
    assert(dataFiles(mor) === before,
      "a MoR delete must not touch any data bucket file")
    // raw read still carries the rows; the MoR read masks them
    assert(spark.read.parquet(mor).count() === 64)
    val masked = Sinks.readWithDeletes(spark, mor, "k").select("k").as[Long]
      .collect().sorted.toSeq
    assert(masked === (0L until 64L).filterNot(_ % 10 == 3))
    // replayed delete (same tag, fewer keys): sidecar reflects the replay,
    // still zero data rewrites
    Sinks.deleteByKeyMoR(spark, mor, delKeys.take(2).toDF("k"), "k", tag = "d1")
    assert(dataFiles(mor) === before)
    Sinks.deleteByKeyMoR(spark, mor, delKeys.toDF("k"), "k", tag = "d1")
    assert(Sinks.readWithDeletes(spark, mor, "k").count() === masked.size.toLong)
    // fold in; compare against the direct CoW delete of the twin store
    Sinks.compactDeletes(spark, mor, "k")
    assert(!Files.exists(Paths.get(s"$mor/_deletes")), "sidecar must be cleared")
    Sinks.deleteByKeyBucket(spark, cow, delKeys.toDF("k"), "k")
    def snap(dest: String) = spark.read.parquet(dest)
      .select("k", "v", "_bucket").as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(snap(mor) === snap(cow),
      "compacted MoR store must be row-identical to the CoW path")
    // replayed compaction on a clean store is a no-op
    Sinks.compactDeletes(spark, mor, "k")
    assert(snap(mor) === snap(cow))
    // post-compaction MoR read has no sidecar join at all
    assert(Sinks.readWithDeletes(spark, mor, "k").count() === masked.size.toLong)
  }
}
