package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.functions.GraftFunctions
import graft.ingest.CommitEtl
import graft.llm.IncrementalDedup
import graft.sinks.Sinks
import graft.sources.Tables

/** One timed operation: a tick, or a backfill pass. */
final class Op(val phase: String, val i: Int) {
  var secs = 0.0
  var traced = false
  var err: String = null
  val info = mutable.LinkedHashMap[String, Any]()
  def record: ListMap[String, Any] = ListMap(Seq("phase" -> phase, "i" -> i, "secs" -> secs,
    "traced" -> traced, "err" -> Option(err)) ++ info.toSeq: _*)
}

/** A workload is a closed loop: `land` writes the next operation's input,
  * `run` is the timed pipeline, `keep` preserves its output for the
  * reference check. Only `run` is inside the operation's time. */
trait Workload {
  /** Generate and land the set-up input, seed stores, run warm-up ticks. */
  def setup(s: SparkSession, tr: Tracer): Unit
  def land(op: Op): Unit
  def run(s: SparkSession, op: Op, tr: Tracer): Unit
  def keep(op: Op): Unit = ()
  /** Directory whose files the sinks layer owns, listed around traced ticks. */
  def storeDir: Path
  /** Untimed: extra counts for a traced tick, taken before and after it. */
  def traceFacts(s: SparkSession, op: Op, after: Boolean): Unit = ()
  /** Untimed: write final outputs; returns facts for the result file. */
  def finish(s: SparkSession): Seq[(String, Any)] = Nil
  /** A store the workload's own code merges into through the sinks layer,
    * not through a call the harness makes; the traced run gives its writes
    * to the sinks layer. */
  def mergeStore: Option[Path] = None
  def landed: Seq[Map[String, Any]]
}

/** The commit-sync pipeline as the reference's cron tick composes it:
  * parse → watermark(store) → +1 s slice → keyed upsert → atomic rewrite. */
object Sync {
  def pass(s: SparkSession, pages: Path, store: Path, tr: Tracer, op: Op): Unit = {
    val raw = tr.span("sources.read_json") {
      s.read.schema(CommitEtl.rawCommitSchema).option("multiLine", "true").json(pages.toString)
    }
    val parsedObs = if (tr.active) Some(Observation("parsed")) else None
    val parsed = tr.span("ingest.parseCommits") {
      val p = CommitEtl.parseCommits(raw)
      parsedObs.fold(p)(o => p.observe(o, count(lit(1)).as("n")))
    }
    val existing = tr.span("sources.read_store") {
      if (Files.exists(store)) s.read.parquet(store.toString)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], parsed.schema)
    }
    val wm = tr.span("ingest.watermark")(CommitEtl.watermark(existing, "commit_ts"))
    val slicedObs = if (tr.active) Some(Observation("sliced")) else None
    val fresh = tr.span("ingest.incrementalSlice") {
      val f = CommitEtl.incrementalSlice(parsed, wm, "commit_ts")
      slicedObs.fold(f)(o => f.observe(o, count(lit(1)).as("n")))
    }
    val merged = tr.span("ingest.upsert")(CommitEtl.upsert(existing, fresh, "commit_hash", Seq("commit_ts")))
    tr.span("sinks.writeAtomic")(Sinks.writeAtomic(merged, store.toString))
    parsedObs.foreach(o => op.info("rows_parsed") = o.get("n"))
    slicedObs.foreach(o => op.info("rows_sliced") = o.get("n"))
  }

  /** Hard-link every file of `store` under `to`: the next tick's atomic
    * rewrite replaces the store, and the reference reads this copy later. */
  def snapshot(store: Path, to: Path): Unit =
    Files.walk(store).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val t = to.resolve(store.relativize(f).toString)
      Files.createDirectories(t.getParent)
      Files.createLink(t, f)
    }
}

final class SyncSteady(p: CommitParams, seed: Long, warm: Int, dir: Path) extends Workload {
  private val gen = new CommitGen(seed, p)
  private val store = dir.resolve("store")
  private val inputs = ArrayBuffer[Map[String, Any]]()
  private var seq = 0
  private var lastRows = 0
  private var pages: Path = _
  def storeDir: Path = store
  def landed: Seq[Map[String, Any]] = inputs.toSeq

  private def landTick(): Path = {
    val d = dir.resolve(f"land/tick_$seq%05d")
    lastRows = gen.tick(d)
    inputs += Map("kind" -> "tick", "path" -> d.toString, "rows" -> lastRows)
    seq += 1
    d
  }

  def setup(s: SparkSession, tr: Tracer): Unit = {
    val h = dir.resolve("land/history")
    val rows = gen.history(h)
    inputs += Map("kind" -> "history", "path" -> h.toString, "rows" -> rows)
    seq += 1
    Sync.pass(s, h, store, tr, new Op("seed", -1))
    (0 until warm).foreach(w => Sync.pass(s, landTick(), store, tr, new Op("warm", w)))
  }

  def land(op: Op): Unit = {
    pages = landTick()
    op.info("applied") = seq
    op.info("rows_landed") = lastRows
  }

  def run(s: SparkSession, op: Op, tr: Tracer): Unit = Sync.pass(s, pages, store, tr, op)

  override def keep(op: Op): Unit = {
    val to = dir.resolve(s"outputs/${op.phase}_${op.i}")
    Sync.snapshot(store, to)
    op.info("output") = to.toString
  }
}

final class SyncBackfill(p: CommitParams, seed: Long, warm: Int, dir: Path) extends Workload {
  private val gen = new CommitGen(seed, p)
  private val history = dir.resolve("land/history")
  private val inputs = ArrayBuffer[Map[String, Any]]()
  private var historyRows = 0
  private var store: Path = _
  def storeDir: Path = store
  def landed: Seq[Map[String, Any]] = inputs.toSeq

  def setup(s: SparkSession, tr: Tracer): Unit = {
    historyRows = gen.history(history)
    inputs += Map("kind" -> "history", "path" -> history.toString, "rows" -> historyRows)
    (0 until warm).foreach { w =>
      val st = dir.resolve(s"outputs/warm_$w")
      Sync.pass(s, history, st, tr, new Op("warm", w))
      Sinks.truncate(st.toString)
    }
  }

  def land(op: Op): Unit = {
    // every pass loads the same landed history into a fresh, empty store,
    // which stays in place for the reference check
    store = dir.resolve(s"outputs/${op.phase}_${op.i}")
    op.info("applied") = 1
    op.info("rows_landed") = historyRows
    op.info("output") = store.toString
  }

  def run(s: SparkSession, op: Op, tr: Tracer): Unit = Sync.pass(s, history, store, tr, op)
}

final class DedupTicks(seed: Long, docsPerTick: Int, vocab: Int, dupPercent: Int,
                       warm: Int, dir: Path) extends Workload {
  private val gen = new DocGen(seed, vocab, dupPercent)
  private val base = dir.resolve("dedup")
  private val inputs = ArrayBuffer[Map[String, Any]]()
  private var seq = 0
  def storeDir: Path = base
  override def mergeStore: Option[Path] = Some(base.resolve("bands"))
  def landed: Seq[Map[String, Any]] = inputs.toSeq

  private def landBatch(): Path = {
    val f = dir.resolve(f"land/docs_$seq%05d.json")
    gen.batch(f, docsPerTick)
    inputs += Map("kind" -> "docs", "path" -> f.toString, "rows" -> docsPerTick)
    seq += 1
    f
  }

  private def tick(s: SparkSession, file: Path, batchId: Int, tr: Tracer): Unit = {
    val docs = tr.span("sources.read_docs")(s.read.schema("doc_id BIGINT, text STRING").json(file.toString))
    tr.span("llm.tick")(IncrementalDedup.tick(s, Tables.spread(docs), batchId.toLong, base.toString))
  }

  def setup(s: SparkSession, tr: Tracer): Unit = {
    IncrementalDedup.reset(base.toString)
    (0 until warm).foreach(_ => tick(s, landBatch(), seq - 1, tr))
  }

  private var file: Path = _
  def land(op: Op): Unit = {
    file = landBatch()
    op.info("applied") = seq
    op.info("rows_landed") = docsPerTick
  }

  def run(s: SparkSession, op: Op, tr: Tracer): Unit = tick(s, file, seq - 1, tr)

  override def traceFacts(s: SparkSession, op: Op, after: Boolean): Unit = {
    val bands = s.read.parquet(base.resolve("bands").toString).count()
    if (!after) op.info("band_rows") = -bands
    else {
      op.info("band_rows") = bands + op.info("band_rows").asInstanceOf[Long]
      op.info("cand_pairs") = s.read.parquet(base.resolve(s"cands/batch_${seq - 1}").toString).count()
    }
  }

  override def finish(s: SparkSession): Seq[(String, Any)] = {
    val out = dir.resolve("pairs")
    IncrementalDedup.verifyAccumulated(s, base.toString).write.parquet(out.toString)
    val sql = dir.resolve("oracle.sql")
    Files.write(sql, IncrementalDedup.oracleSql("q_llm_dedup_incremental").getBytes(UTF_8))
    Seq("pairs" -> out.toString, "oracle_sql" -> sql.toString)
  }
}

/** Benchmark harness: runs one or more workloads in this JVM and writes a
  * `result.json` (and, when traced, `trace.jsonl`) per workload under
  * `root`. `perfbench/run.py` builds, launches and checks it.
  *
  * Arguments are `key=value`; see `run.py` for the full list. */
object PerfBench {

  def session(cpus: Int, root: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    // every path the run touches lives under its own scratch root
    b.config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  private def listing(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.matches("^[._].*"))
      .map(f => dir.relativize(f).toString -> Files.size(f)).toMap

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val root = Paths.get(a("root")).toAbsolutePath
    val failed = a("workloads").split(",").count(w => !runWorkload(w, a, root.resolve(w)))
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def make(name: String, a: Map[String, String], dir: Path): Workload = {
    def i(k: String) = a(s"$name.$k").toInt
    val seed = a("seed").toLong
    def history = CommitParams(i("history"), i("history_null_each"), i("page_size"), i("page_shift"))
    name match {
      case "sync_steady" => new SyncSteady(history.copy(tickNew = i("tick_new"),
        nullEach = i("null_each"), sameSecond = i("same_second"), late = i("late"),
        redeliver = i("redeliver")), seed, i("warm_ticks"), dir)
      case "sync_backfill" => new SyncBackfill(history, seed, i("warm_ticks"), dir)
      case "dedup_ticks"   => new DedupTicks(seed, i("docs_per_tick"), i("vocab"),
        i("dup_percent"), i("warm_ticks"), dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Returns false when set-up or the final outputs failed; per-operation
    * failures are recorded in the result and judged by the caller. */
  private def runWorkload(name: String, a: Map[String, String], dir: Path): Boolean = {
    val cpus = a("cpus").toInt
    val trace = a("trace") == "1"
    val tracer = new Tracer
    val setupTimes = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var wl: Workload = null
    val ops = ArrayBuffer[Op]()
    val facts = ArrayBuffer[(String, Any)]()
    try {
      // set-up is repeated and its median reported: each repetition starts
      // a fresh session and lands, seeds and warms a fresh copy of the state
      val reps = if (trace) 1 else a("setup_reps").toInt
      for (r <- 0 until reps) {
        if (spark != null) spark.stop()
        Sinks.deleteRec(dir.toString)
        val t0 = System.nanoTime()
        spark = session(cpus, dir)
        wl = make(name, a, dir.resolve("state"))
        wl.setup(spark, tracer)
        setupTimes += (System.nanoTime() - t0) / 1e9
      }
      System.err.println(s"[perfbench] $name set-up ${setupTimes.mkString(" ")} s")

      val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
      var i = 0
      // in a traced run every other operation is traced, so the untraced
      // ones, interleaved over the same store growth, give the overhead
      while (System.nanoTime() < deadline || i < a("min_ops").toInt) {
        ops += runOp(spark, wl, new Op("run", i), trace && i % 2 == 1, tracer)
        i += 1
      }
      if (trace) {
        // executor scaling: the same operations at local[1]
        spark.stop()
        spark = session(1, dir)
        (0 until a("scale_ops").toInt).foreach { _ =>
          ops += runOp(spark, wl, new Op("scale", i), traced = false, tracer)
          i += 1
        }
      }
      facts ++= wl.finish(spark)
      System.err.println(s"[perfbench] $name ${ops.size} operations done")
      true
    } catch {
      case e: Throwable =>
        facts += "error" -> e.toString
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        false
    } finally {
      if (tracer.active) tracer.detach()
      if (spark != null) spark.stop()
      Files.createDirectories(dir)
      val traceFile = dir.resolve("trace.jsonl")
      if (trace) Files.write(traceFile, tracer.dump().asJava, UTF_8)
      val result = Json((Seq(
        "workload" -> name, "cpus" -> cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "java" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
        "setup_s" -> setupTimes.toSeq, "peak_rss_kb" -> peakRssKb(),
        "trace_file" -> (if (trace) Some(traceFile.toString) else None),
        "landed" -> Option(wl).map(_.landed).getOrElse(Nil),
        "merge_store" -> Option(wl).flatMap(_.mergeStore).map(_.toString),
        "ops" -> ops.map(_.record).toSeq) ++ facts.toSeq): _*)
      Files.write(dir.resolve("result.json"), result.getBytes(UTF_8))
    }
  }

  private def runOp(s: SparkSession, wl: Workload, op: Op, traced: Boolean, tr: Tracer): Op = {
    op.traced = traced
    val sc = s.sparkContext
    try {
      wl.land(op)
      if (traced) wl.traceFacts(s, op, after = false)
      val before = if (traced) listing(wl.storeDir) else Map.empty[String, Long]
      if (traced) tr.attach(s)
      // one job group per operation: jobs, including those submitted from
      // pools the operation creates, inherit it
      sc.setJobGroup(s"op-${op.i}", s"perfbench ${op.phase} ${op.i}", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try tr.span("tick", Seq("i" -> op.i))(wl.run(s, op, tr))
      finally {
        op.secs = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        if (traced) tr.detach()
      }
      if (traced) {
        val after = listing(wl.storeDir)
        op.info("files_written") = (after.keySet -- before.keySet).size
        op.info("store_files") = after.size
        op.info("store_bytes") = after.values.sum
        wl.traceFacts(s, op, after = true)
      }
      wl.keep(op)
    } catch {
      case e: Throwable =>
        op.err = e.toString
        System.err.println(s"[perfbench] ${op.phase} ${op.i} failed: $e")
    }
    op
  }
}
