package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.sinks.Sinks

/** The local disk under the `crash://` scheme. Every rename, delete and
  * mkdirs is a step; once armed at step k, the k-th step and every later
  * one throw instead of running — a process that died just before step
  * k, leaving the disk as the first k-1 steps left it. */
class CrashFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"
}) {
  override def rename(src: Path, dst: Path): Boolean = { CrashFs.step(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { CrashFs.step(); super.delete(f, recursive) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { CrashFs.step(); super.mkdirs(f, p) }
  override def mkdirs(f: Path): Boolean = { CrashFs.step(); super.mkdirs(f) }
}

object CrashFs {
  private val steps = new AtomicInteger
  @volatile private var failAt = Int.MaxValue

  def step(): Unit =
    if (steps.incrementAndGet() >= failAt) throw new IOException("injected crash")

  /** Run `body` unarmed; the number of steps it took. */
  def count(body: => Unit): Int = { steps.set(0); body; steps.get }

  /** Run `body` armed at step `k`; true iff it crashed. `quiesce` runs
    * while still armed, so work the crash left running cannot step. */
  def crashAt(k: Int)(body: => Unit)(quiesce: => Unit): Boolean = {
    steps.set(0); failAt = k
    try { body; false }
    catch { case _: Exception => true }
    finally { quiesce; failAt = Int.MaxValue }
  }
}

/** Crash-point enumeration over every sink publish: for each step k of an
  * operation, crash it before step k, re-run it, and require the store to
  * equal the store of a run with no crash, with no staging or `.old`
  * entry left anywhere in the case directory. */
class SinksCrashSpec extends SparkSpec {

  private def entries(dir: String): Seq[JPath] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Nil
    else {
      val w = Files.walk(d)
      try w.iterator().asScala.filter(_ != d).map(d.relativize).toList finally w.close()
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    Sinks.deleteRec(to)
    Files.createDirectories(Paths.get(to))
    entries(from).foreach { rel =>
      val src = Paths.get(from).resolve(rel)
      if (Files.isDirectory(src)) Files.createDirectories(Paths.get(to).resolve(rel))
      else Files.copy(src, Paths.get(to).resolve(rel))
    }
  }

  /** What readers of the case directory see: each visible directory's
    * parquet rows, each visible non-part file's text. Part-file names
    * are the writer's random choice, so they are not compared. */
  private def content(dir: String): Map[String, Seq[String]] = {
    val visible = entries(dir).filterNot(_.iterator().asScala.exists(_.toString.startsWith(".")))
    val (dirs, files) = visible.partition(rel => Files.isDirectory(Paths.get(dir).resolve(rel)))
    val rows = dirs.map { rel =>
      val parts = files.filter(f => f.getParent == rel && f.toString.endsWith(".parquet"))
        .map(f => Paths.get(dir).resolve(f).toString)
      rel.toString -> (if (parts.isEmpty) Nil
        else spark.read.parquet(parts: _*).collect().map(_.toString).toSeq.sorted)
    }
    val texts = files.filterNot(_.getFileName.toString.startsWith("part-")).map { rel =>
      rel.toString -> Seq(new String(Files.readAllBytes(Paths.get(dir).resolve(rel)), "UTF-8"))
    }
    (rows ++ texts).toMap
  }

  private def leftovers(dir: String): Seq[String] =
    entries(dir).map(_.toString).filter(rel => rel.split('/').exists(n =>
      n.startsWith(".") || n.contains("staging") || n == "_temporary"))

  /** Build the pre-state with `setup` once, then enumerate every crash
    * point of `op`. Both get the store path on the crash scheme. */
  private def enumerate(name: String)(setup: String => Unit)(op: String => Unit): Unit = {
    val dir = Sinks.scratch(s"spec_crash/$name")
    def store(d: String) = s"crash://$dir/$d/store"
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
    Files.createDirectories(Paths.get(s"$dir/template"))
    setup(store("template"))
    copyTree(s"$dir/template", s"$dir/clean")
    val n = CrashFs.count(op(store("clean")))
    val want = content(s"$dir/clean")
    assert(n > 0)
    (1 to n).foreach { k =>
      copyTree(s"$dir/template", s"$dir/run")
      val crashed = CrashFs.crashAt(k)(op(store("run")))(quiesce())
      assert(crashed, s"$name: no crash before step $k of $n")
      op(store("run"))
      assert(content(s"$dir/run") === want, s"$name: crash before step $k of $n, re-run")
      assert(leftovers(s"$dir/run").isEmpty, s"$name: crash before step $k of $n left")
    }
    Sinks.deleteRec(dir)
  }

  /** Wait out the tasks a crash left running. */
  private def quiesce(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    while (tracker.getActiveStageIds.nonEmpty || tracker.getActiveJobIds.nonEmpty)
      Thread.sleep(10)
  }

  /** One task and one shuffle partition per write (a small, stable step
    * count for every operation), and the crashed jobs' error logs muted. */
  private def quietly(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    sc.setLogLevel("OFF")
    try body
    finally {
      sc.setLogLevel("ERROR")
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
    }
  }

  private def kv(keys: Seq[Long], tag: String): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, s"$tag$k")).toDF("k", "v").coalesce(1)
  }

  private def bucketed(keys: Seq[Long], tag: String): DataFrame =
    kv(keys, tag).withColumn("_bucket", pmod(col("k"), lit(2)).cast("int"))

  private def merge(store: String, df: DataFrame): Unit =
    Sinks.mergeByKeyBucket(spark, store, df, "k", Seq("v"), nBuckets = 2)

  test("writeAtomic: every crash point recovers on re-run") {
    quietly(enumerate("write_atomic")(Sinks.writeAtomic(kv(0L to 3L, "a"), _))(
      Sinks.writeAtomic(kv(2L to 5L, "b"), _)))
  }

  test("mergeByKeyBucket first write: every crash point recovers on re-run") {
    quietly(enumerate("merge_first")(_ => ())(merge(_, kv(0L to 5L, "a"))))
  }

  test("mergeByKeyBucket merge: every crash point recovers on re-run") {
    quietly(enumerate("merge")(merge(_, kv(0L to 5L, "a")))(merge(_, kv(4L to 7L, "b"))))
  }

  test("deleteByKeyBucket: every crash point recovers on re-run") {
    // deletes every even key, so bucket 0 is dropped and bucket 1 rewritten
    quietly(enumerate("delete_cow")(merge(_, kv(0L to 7L, "a")))(
      Sinks.deleteByKeyBucket(spark, _, kv(Seq(0L, 2L, 4L, 6L, 7L), "x").select("k"), "k")))
  }

  test("deleteByKeyMoR: every crash point recovers on re-run") {
    quietly(enumerate("delete_mor")(merge(_, kv(0L to 7L, "a")))(
      Sinks.deleteByKeyMoR(spark, _, kv(Seq(1L, 2L), "x").select("k"), "k", tag = "d1")))
  }

  test("compactDeletes: every crash point recovers on re-run") {
    quietly(enumerate("compact_deletes") { st =>
      merge(st, kv(0L to 7L, "a"))
      Sinks.deleteByKeyMoR(spark, st, kv(Seq(1L, 2L, 4L), "x").select("k"), "k", tag = "d1")
    }(Sinks.compactDeletes(spark, _, "k")))
  }

  test("appendBuckets: every crash point recovers on re-run") {
    quietly(enumerate("append") { st =>
      Sinks.initBucketStore(st, 2, "k", kv(Nil, "").schema)
      Sinks.appendBuckets(spark, st, bucketed(0L to 3L, "a"), "t0")
    }(Sinks.appendBuckets(spark, _, bucketed(2L to 5L, "b"), "t1")))
  }

  test("compactBuckets: every crash point recovers on re-run") {
    quietly(enumerate("compact_buckets") { st =>
      Sinks.initBucketStore(st, 2, "k", kv(Nil, "").schema)
      Sinks.appendBuckets(spark, st, bucketed(0L to 3L, "a"), "t0")
      Sinks.appendBuckets(spark, st, bucketed(2L to 5L, "b"), "t1")
    }(Sinks.compactBuckets(spark, _)))
  }

  private def versions(st: String): Unit = {
    Sinks.commitVersion(spark, st, kv(0L to 3L, "a"), "k")
    Sinks.commitVersion(spark, st, kv(2L to 5L, "b"), "k")
    Sinks.commitDeletes(spark, st, kv(Seq(0L), "x").select("k"), "k")
  }

  test("commitVersion: every crash point recovers on re-run") {
    quietly(enumerate("commit_version")(versions)(
      Sinks.commitVersion(spark, _, kv(5L to 6L, "c"), "k")))
  }

  test("compactVersions: every crash point recovers on re-run") {
    quietly(enumerate("compact_versions")(versions)(
      Sinks.compactVersions(spark, _, upTo = 1L, key = "k")))
  }

  test("compactVersions replayed: every crash point recovers on re-run") {
    quietly(enumerate("compact_versions_replay") { st =>
      versions(st)
      Sinks.compactVersions(spark, st, upTo = 1L, key = "k")
    }(Sinks.compactVersions(spark, _, upTo = 1L, key = "k")))
  }

  test("publishSet: every crash point recovers on re-run") {
    def set(tag: String) = Map("a" -> kv(0L to 1L, tag), "b" -> kv(2L to 3L, tag))
    quietly(enumerate("publish_set")(Sinks.publishSet(spark, _, 1L, set("one")))(
      Sinks.publishSet(spark, _, 2L, set("two"))))
  }
}
